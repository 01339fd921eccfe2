"""Layered benchmark for the engine: one seeded workload per run.

    python3 perfbench/run.py --workload mixed_sf001 --seed 1 --seconds 20 --trace 0

Run from the repository root. The run

1. generates the workload's input tables from ``--seed`` (``gen.py``)
   into ``.perfbench/work-<pid>/`` and deletes them at exit;
2. starts one Spark session on ``local[nproc]`` and runs untimed
   warm-up passes over the workload's queries;
3. measures about ``--seconds``: a closed loop in which one client
   runs the queries back to back (order shuffled per pass from the
   seed) for the number of passes that fill ``--seconds`` at the
   workload's nominal pass time,
   each built through ``registry.queries()`` and executed into the
   ``noop`` sink;
4. after the timed passes, collects every query's output from the
   last pass and checks it (``check.py``); raises and mismatches are
   counted as failures and never stop the run.

With ``--trace 0`` the result line carries the end-to-end metrics.
With ``--trace 1`` the timed passes alternate between untraced and
traced, and the result carries the per-layer metrics (per traced pass)
plus ``trace.overhead_s``, the traced minus the untraced median pass
time. Spans, the pass curve, per-query records, failures and the
environment are written to ``.perfbench/out/``. The last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
from gen import fixture_tables, infer_tables  # noqa: E402
from spans import PKG, Tracer, dir_files, make_progress_listener, spark_query_metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _process_start_wall() -> float:
    """Wall-clock time this process started (from /proc), so set-up
    time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


PROCESS_START = _process_start_wall()

# In the result line. query_tail_s and peak_rss_mb are only printed:
# runs have too few latency samples for a tail above the median, and
# the JVM's heap growth makes the peak RSS vary ~17% between runs.
END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "rows_per_s": "1/s",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_share": "ratio",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "localframe.calls": "count",
    "localframe.s": "s",
    "localframe.rows": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.driver_gap_s": "s",
    "exec.core_util": "ratio",
    "exec.input_rows": "count",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "udf.python_run_s": "s",
    "udf.python_init_s": "s",
    "udf.to_python_mb": "MB",
    "udf.from_python_mb": "MB",
    "ml.inference.fit_calls": "count",
    "ml.inference.fit_s": "s",
    "ml.inference.fit_hit_ratio": "ratio",
    "ml.inference.kernel_gflop": "GFLOP",
    "ml.inference.arrow_in_mb": "MB",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "lakehouse.write_calls": "count",
    "lakehouse.write_s": "s",
    "lakehouse.read_s": "s",
    "lakehouse.bytes_written_mb": "MB",
    "lakehouse.files_written": "count",
    "trace.overhead_s": "s",
}
LAKE_WRITES = ("snapshot_write", "merge_into", "delete_where")
DRIVER_MEMORY = "2g"


def timed_passes(wl, seconds: float, trace: int) -> int:
    """Passes that fill ``seconds`` at the workload's nominal pass time.

    The count is fixed by the arguments, not by the clock: the passes
    after a cold start keep getting faster (JIT), so a slow run that got
    fewer passes would also report less-warm ones. A traced run makes
    as many untraced passes plus as many traced ones, in the order
    untraced, traced, traced, untraced, ... so that the drift cancels
    out of the overhead."""
    n = max(round(seconds / wl.nominal_pass_s), 1)
    return 2 * n if trace else n


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile, q in (0, 1]."""
    s = sorted(values)
    return s[max(math.ceil(q * len(s)) - 1, 0)]


def tail_quantile(n: int) -> float:
    """Highest percentile with at least ten samples beyond it (0.9 at most)."""
    return max(min(0.9, (n - 10) / n), 0.5) if n else 0.5


# -- process tree memory ----------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self.recording = True
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period_s):
            if self.recording:
                kb = sum(_rss_kb(p) for p in [me, *descendants(me)])
                self.peak_kb = max(self.peak_kb, kb)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- the benchmark ----------------------------------------------------------


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.data = os.path.join(work, "data")
        self.rng = random.Random(args.seed)
        self.spark = None
        self.tracer = Tracer()
        self.records: list[dict] = []
        self.failures: dict[str, str] = {}
        self.harvest: list[tuple[dict, list[int]]] = []
        self.table_rows: dict[str, int] = {}
        self.last_frames: dict = {}  # query -> DataFrame of the latest pass
        self.next_qid = 0

    # set-up

    def start_session(self) -> float:
        from embarrassingly_parallel_image_classification_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            {
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # -XX:-UsePerfData: no hsperfdata file in the system temp dir
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
                ),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def generate(self) -> dict[str, int]:
        if self.wl.infer_replicas:
            return infer_tables(self.args.seed, self.data, self.wl.infer_replicas)
        return fixture_tables(self.args.seed, self.data)

    # the timed loop

    def order(self) -> list[str]:
        names = list(self.wl.queries)
        self.rng.shuffle(names)
        return names

    def run_pass(self, kind: str, traced: bool) -> float:
        from embarrassingly_parallel_image_classification_spark import registry

        queries = registry.queries()
        sc = self.spark.sparkContext
        tr = self.tracer
        pass_no = sum(1 for r in self.records if r["query_index"] == 0)
        undo = self._install_wrappers() if traced else []
        listener = None
        if traced and any(q.startswith("q_stream") for q in self.wl.queries):
            listener = make_progress_listener(tr)
            self.spark.streams.addListener(listener)
        pass_span = tr.open("pass") if traced else None
        paused = 0.0
        t_pass = time.perf_counter()
        for i, name in enumerate(self.order()):
            rec = {"pass": pass_no, "kind": kind, "traced": traced, "query": name, "query_index": i}
            qspan = None
            if traced:
                rec["qid"] = tr.qid = self.next_qid
                self.next_qid += 1
                group = f"perfbench-{rec['qid']}"
                sc.setJobGroup(group, name)
                qspan = tr.open("query")
            t0 = time.perf_counter()
            df = None
            try:
                span = tr.open("build") if traced else None
                df = queries[name](self.spark, self.data)
                t1 = time.perf_counter()
                if traced:
                    tr.close(span)
                    build_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
                    span = tr.open("run")
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                if traced:
                    tr.close(span)
                rec.update(build_s=t1 - t0, run_s=t2 - t1, latency_s=t2 - t0)
                self.last_frames[name] = df
            except Exception:  # noqa: BLE001 - a failing query is recorded, not fatal
                rec["error"] = traceback.format_exc(limit=3)
                self.last_frames.pop(name, None)
                self.failures[f"{name} (pass {pass_no})"] = rec["error"]
                if traced:
                    tr.unwind(qspan)
            if traced:
                tr.close(qspan)
                tr.qid = None
                h0 = time.perf_counter()
                all_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                if "error" not in rec:
                    rec["build_jobs"] = len(build_jobs)
                    rec.update(self._catalyst(df))
                    self.harvest.append((rec, [j for j in all_jobs if j not in build_jobs]))
                paused += time.perf_counter() - h0
            self.records.append(rec)
        pass_s = time.perf_counter() - t_pass - paused
        if traced:
            tr.close(pass_span)
            for fn in undo:
                fn()
            if listener is not None:
                time.sleep(0.5)  # let queued progress events reach the listener
                self.spark.streams.removeListener(listener)
        return pass_s

    def _catalyst(self, df) -> dict[str, float]:
        """Catalyst phase times of the query's own QueryExecution, read
        after it ran (forcing its physical plan, outside the timing)."""
        out = {}
        try:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        except Exception:  # noqa: BLE001 - a plan that cannot be re-planned reports 0
            pass
        return out

    def _install_wrappers(self) -> list:
        tr = self.tracer
        sc = self.spark.sparkContext
        undo = []

        def jobs_now() -> int:
            group = sc.getLocalProperty("spark.jobGroup.id")
            return len(sc.statusTracker().getJobIdsForGroup(group)) if group else 0

        def load_table(original):
            timed = tr.timed("sources.load", original)

            def wrapper(*args, **kwargs):
                before = jobs_now()
                result = timed(*args, **kwargs)
                tr.add("sources.load_jobs", jobs_now() - before)
                return result

            return wrapper

        undo.append(tr.wrap(f"{PKG}.sources.tables", "load_table", load_table))

        def local_df(original):
            def on_call(args, kwargs, result, dt):
                rows = args[1] if len(args) > 1 else kwargs.get("rows", [])
                tr.add("localframe.rows", len(rows) if hasattr(rows, "__len__") else 0)

            return tr.timed("localframe", original, on_call)

        undo.append(tr.wrap(f"{PKG}.localframe", "local_df", local_df))

        inference = sys.modules.get(f"{PKG}.ml.inference")
        if inference is not None:
            cache = inference._CENTROID_CACHE

            def fit_centroids(original):
                def wrapper(emb):
                    size = len(cache)
                    result = timed(emb)
                    tr.add("ml.inference.fit_hits", 1 if len(cache) == size else 0)
                    cents, _labels = result
                    rows = self.table_rows.get("embeddings", 0)
                    n_classes, dim = cents.shape
                    tr.add("ml.inference.kernel_gflop", 2.0 * rows * dim * n_classes / 1e9)
                    tr.add("ml.inference.arrow_in_mb", rows * dim * 4 / 1e6)
                    return result

                timed = tr.timed("ml.inference.fit", original)
                return wrapper

            undo.append(tr.wrap(f"{PKG}.ml.inference", "fit_centroids", fit_centroids))

        lake = sys.modules.get(f"{PKG}.plans.lakehouse")
        if lake is not None:
            for fname in LAKE_WRITES:

                def lake_write(original):
                    # every wrapped writer takes the table path second
                    def wrapper(*args, **kwargs):
                        path = args[1] if len(args) > 1 else kwargs.get("path")
                        before = dir_files(path) if isinstance(path, str) else {}
                        result = timed(*args, **kwargs)
                        after = dir_files(path) if isinstance(path, str) else {}
                        new = [p for p in after if p not in before]
                        tr.add("lakehouse.files_written", len(new))
                        tr.add("lakehouse.bytes_written_mb", sum(after[p] for p in new) / 1e6)
                        return result

                    timed = tr.timed("lakehouse.write", original)
                    return wrapper

                undo.append(tr.wrap(f"{PKG}.plans.lakehouse", fname, lake_write))
            undo.append(
                tr.wrap(
                    f"{PKG}.plans.lakehouse",
                    "snapshot_read",
                    lambda original: tr.timed("lakehouse.read", original),
                )
            )
        return undo

    # per-layer aggregation (traced passes only)

    def layer_metrics(self, traced_passes: list[float], untraced_passes: list[float], session_s: float) -> dict:
        n = max(len(traced_passes), 1)
        c = self.tracer.counters
        m: dict[str, float] = defaultdict(float)
        for rec, run_jobs in self.harvest:
            m["registry.build_s"] += rec["build_s"]
            m["registry.build_jobs"] += rec["build_jobs"]
            m["exec.run_s"] += rec["run_s"]
            for k in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms"):
                m[k] += rec.get(k, 0.0)
            for k, v in spark_query_metrics(self.spark, run_jobs).items():
                m[k] += v
        per_pass = {k: v / n for k, v in m.items()}
        build, run = per_pass.get("registry.build_s", 0.0), per_pass.get("exec.run_s", 0.0)
        per_pass["registry.build_share"] = build / (build + run) if build + run else 0.0
        per_pass["exec.driver_gap_s"] = max(run - per_pass.pop("exec.stage_cover_s", 0.0), 0.0)
        per_pass["exec.core_util"] = (
            per_pass.get("exec.executor_run_s", 0.0) / (run * nproc()) if run else 0.0
        )
        for src, dst in (
            ("sources.load.calls", "sources.load_calls"),
            ("sources.load.s", "sources.load_s"),
            ("sources.load_jobs", "sources.load_jobs"),
            ("localframe.calls", "localframe.calls"),
            ("localframe.s", "localframe.s"),
            ("localframe.rows", "localframe.rows"),
            ("ml.inference.fit.calls", "ml.inference.fit_calls"),
            ("ml.inference.fit.s", "ml.inference.fit_s"),
            ("ml.inference.kernel_gflop", "ml.inference.kernel_gflop"),
            ("ml.inference.arrow_in_mb", "ml.inference.arrow_in_mb"),
            ("streaming.batches", "streaming.batches"),
            ("streaming.trigger_ms", "streaming.trigger_ms"),
            ("streaming.add_batch_ms", "streaming.add_batch_ms"),
            ("streaming.planning_ms", "streaming.planning_ms"),
            ("lakehouse.write.calls", "lakehouse.write_calls"),
            ("lakehouse.write.s", "lakehouse.write_s"),
            ("lakehouse.read.s", "lakehouse.read_s"),
            ("lakehouse.bytes_written_mb", "lakehouse.bytes_written_mb"),
            ("lakehouse.files_written", "lakehouse.files_written"),
        ):
            per_pass[dst] = c.get(src, 0.0) / n
        fits = c.get("ml.inference.fit.calls", 0.0)
        per_pass["ml.inference.fit_hit_ratio"] = c.get("ml.inference.fit_hits", 0.0) / fits if fits else 0.0
        per_pass["session.start_s"] = session_s
        per_pass["trace.overhead_s"] = statistics.median(traced_passes) - statistics.median(untraced_passes)
        return {k: per_pass.get(k, 0.0) for k in PER_LAYER_UNITS}

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - escalate below
                    proc.kill()
                    proc.wait(timeout=30)
        self.spark = None


def stop_descendants(timeout_s: float = 30.0) -> None:
    """Terminate and reap anything this process started that is still up."""
    me = os.getpid()
    pids = descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout_s / 2
        while time.time() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            pids = descendants(me)
            if not pids:
                return
            time.sleep(0.1)


def summarize(values: list[float]) -> dict:
    if not values:
        return {"median": float("nan"), "q1": float("nan"), "q3": float("nan"), "n": 0}
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2], "n": len(values)}


def environment() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": DRIVER_MEMORY,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "registry.py")):
        print(f"perfbench: run from the repository root; no {PKG}/ in {root}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # A hung query must not outlive the run's 180 s limit: give up,
    # clean up and exit without a result line.
    signal.signal(signal.SIGALRM, lambda *_: sys.exit(124))
    signal.alarm(170)
    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Engine scratch (lakehouse tables, stream checkpoints) goes under
    # tempfile.gettempdir(); keep it, Spark's and the workers' inside the run.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # spark-submit's launcher JVM, like the driver JVM below, would
    # otherwise leave an hsperfdata file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    sys.path.insert(0, root)

    bench = Bench(args, work)
    rss = RssSampler()
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        bench.table_rows = bench.generate()
        report["canary_start"] = check.canary(bench.data)
        session_s = bench.start_session()
        curve = {"warmup": [], "timed": [], "timed_traced": []}
        for _ in range(bench.wl.warmup_passes):
            curve["warmup"].append(bench.run_pass("warmup", traced=False))
        setup_s = time.time() - PROCESS_START

        workload_span = bench.tracer.open("workload") if args.trace else None
        for i in range(timed_passes(bench.wl, args.seconds, args.trace)):
            traced = bool(args.trace) and i % 4 in (1, 2)
            key = "timed_traced" if traced else "timed"
            curve[key].append(bench.run_pass(key, traced=traced))
        if workload_span is not None:
            bench.tracer.close(workload_span)
        rss.recording = False

        from embarrassingly_parallel_image_classification_spark import registry

        # The gate collects the DataFrames the last timed pass built
        # (rebuilding any that failed there), after all timing is done.
        queries = registry.queries()
        names = list(bench.wl.queries)

        def frame(name):
            df = bench.last_frames.get(name)
            return df if df is not None else queries[name](bench.spark, bench.data)

        if bench.wl.infer_replicas:
            gate = check.check_inference(frame, bench.data, names)
        else:
            gate = check.check_oracles(frame, bench.data, names, registry.oracles())
        report["canary_end"] = check.canary(bench.data)

        timed = [r for r in bench.records if r["kind"] == "timed"]
        lat = [r["latency_s"] for r in timed if "latency_s" in r]
        q_tail = tail_quantile(len(lat))
        rows_per_pass = sum(
            sum(bench.table_rows[t] for t in tables) for tables in bench.wl.queries.values()
        )
        passes = summarize(curve["timed"])
        e2e = {
            "setup_s": setup_s,
            "pass_s": passes["median"],
            "query_p50_s": quantile(lat, 0.5) if lat else float("nan"),
            "query_tail_s": quantile(lat, q_tail) if lat else float("nan"),
            "rows_per_s": rows_per_pass / passes["median"],
            "peak_rss_mb": rss.peak_kb / 1024.0,
        }
        run_errors = [r for r in bench.records if "error" in r and r["kind"] != "warmup"]
        attempted = len([r for r in bench.records if r["kind"] != "warmup"]) + len(names)
        failed = len(run_errors) + len(gate)
        metrics_layer = None
        if args.trace:
            metrics_layer = bench.layer_metrics(curve["timed_traced"], curve["timed"], session_s)
        report.update(
            env=environment(),
            table_rows=bench.table_rows,
            rows_per_pass=rows_per_pass,
            pass_curve=curve,
            end_to_end=e2e,
            per_layer=metrics_layer,
            self_time_s=bench.tracer.self_times() if args.trace else None,
            tail_quantile=q_tail,
            gate_failures=gate,
            run_failures=bench.failures,
            records=bench.records,
        )
    finally:
        signal.alarm(0)
        rss.close()
        bench.close()
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(out_dir, "out"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    bench.tracer.dump(os.path.join(out_dir, "out", f"{tag}.json"), report)

    print_report(report, e2e, passes, lat, attempted, failed)
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in metrics_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def print_report(report, e2e, passes, lat, attempted, failed) -> None:
    curve = report["pass_curve"]
    fmt = lambda xs: " ".join(f"{x:.2f}" for x in xs)  # noqa: E731
    print(f"workload {report['workload']} seed {report['seed']} trace {report['trace']}")
    print(f"pass curve (s): warm-up [{fmt(curve['warmup'])}] | timed [{fmt(curve['timed'])}]"
          + (f" | traced [{fmt(curve['timed_traced'])}]" if curve["timed_traced"] else ""))
    print(f"  setup_s      {e2e['setup_s']:.3f} s   (n=1, process start to first timed query)")
    print(f"  pass_s       {passes['median']:.3f} s   (median; q1 {passes['q1']:.3f}, q3 {passes['q3']:.3f}; n={passes['n']} passes)")
    print(f"  query_p50_s  {e2e['query_p50_s']:.3f} s   (n={len(lat)} queries)")
    print(f"  query_tail_s {e2e['query_tail_s']:.3f} s   (p{100 * report['tail_quantile']:.0f}, n={len(lat)} queries)")
    print(f"  rows_per_s   {e2e['rows_per_s']:.1f} 1/s (source rows per pass {report['rows_per_pass']})")
    print(f"  fail_ratio   {failed / attempted:.4f}     ({failed}/{attempted} attempted)")
    print(f"  peak_rss_mb  {e2e['peak_rss_mb']:.1f} MB  (process tree, sampled every 0.25 s)")
    for name, msg in {**report["run_failures"], **report["gate_failures"]}.items():
        print(f"  FAILED {name}: {msg.strip().splitlines()[-1][:200]}")
    if report["per_layer"]:
        for k, v in report["per_layer"].items():
            print(f"  {k:30s} {v:.4f} {PER_LAYER_UNITS[k]}")
        for k, v in sorted(report["self_time_s"].items()):
            print(f"  self_time {k:22s} {v:.3f} s")
    print(f"env {json.dumps(report['env'])}")
    print(f"canary start {json.dumps(report['canary_start'])} end {json.dumps(report['canary_end'])}")


if __name__ == "__main__":
    sys.exit(main())
