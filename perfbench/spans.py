"""Tracing for the benchmark's traced run, recorded from outside the engine.

Three sources, all read from the benchmark's side of the API:

* ``Tracer`` keeps spans (name, start, end, parent, query-execution id)
  in memory. The harness opens spans for workload, pass, query, build
  and run; ``Tracer.wrap`` swaps a public engine function for a timed
  wrapper in every package module that bound it, so calls into
  ``sources.tables.load_table``, ``localframe.local_df``,
  ``ml.inference.fit_centroids`` and the lakehouse commit/read
  functions become child spans.
* ``spark_query_metrics`` reads Spark's own status store (jobs, stages,
  task metrics) and SQL-node metrics for the jobs of one job group.
* ``make_progress_listener`` collects streaming progress from
  ``spark.streams``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import asdict, dataclass, field

PKG = "embarrassingly_parallel_image_classification_spark"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    qid: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span store plus per-layer counters."""

    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    _stack: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    qid: int | None = None

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), parent, name, self.qid, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> float:
        span.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        return span.end - span.start

    def unwind(self, span: Span) -> None:
        """Close every span opened inside ``span`` (after a raise)."""
        while self._stack and self._stack[-1] is not span:
            self.close(self._stack[-1])

    def add(self, key: str, value: float) -> None:
        # the streaming listener adds from py4j's callback thread
        with self._lock:
            self.counters[key] += value

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None and s.end:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.end:
                out[s.name] += (s.end - s.start) - child_time[s.id]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)

    # -- wrapping public engine functions --------------------------------

    def wrap(self, module: str, name: str, make: Callable) -> Callable[[], None]:
        """Replace ``module.name`` everywhere the package bound it with
        ``make(original)``; returns a function that undoes the swap."""
        original = getattr(sys.modules[module], name)
        wrapper = make(original)
        swapped = []
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapper)
                    swapped.append((mod, attr))

        def undo() -> None:
            for mod, attr in swapped:
                setattr(mod, attr, original)

        return undo

    def timed(self, layer: str, original: Callable, on_call: Callable | None = None) -> Callable:
        """Wrapper that records a ``layer`` span, ``layer.calls`` and
        ``layer.s``; ``on_call(args, kwargs, result, seconds)`` adds
        layer-specific counters."""

        def wrapper(*args, **kwargs):
            span = self.open(layer)
            try:
                result = original(*args, **kwargs)
            finally:
                dt = self.close(span)
                self.add(f"{layer}.calls", 1)
                self.add(f"{layer}.s", dt)
            if on_call is not None:
                on_call(args, kwargs, result, dt)
            return result

        wrapper.__wrapped__ = original
        return wrapper


# -- Spark status store and SQL metrics ----------------------------------

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]+)?")
# SQL-node metric name -> per-layer counter (bytes or seconds)
PY_METRICS = {
    "time to run Python workers": "udf.python_run_s",
    "time to initialize Python workers": "udf.python_init_s",
    "time to start Python workers": "udf.python_init_s",
    "data sent to Python workers": "udf.to_python_mb",
    "data returned from Python workers": "udf.from_python_mb",
}


def parse_metric_total(text: str) -> float:
    """Total of a formatted SQL metric ('total (min, med, max ...)\\n1.3 m
    (...)' or a bare '200,000') in seconds, bytes or a plain count."""
    lines = text.strip().split("\n")
    m = _TOTAL.match(lines[-1] if len(lines) > 1 else lines[0])
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _epoch_s(jopt_date) -> float | None:
    return jopt_date.get().getTime() / 1000.0 if jopt_date.isDefined() else None


def spark_query_metrics(spark, job_ids: list[int]) -> dict[str, float]:
    """Jobs, stages, task metrics and Python SQL-node metrics for the
    given jobs, read from Spark's status stores."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out: dict[str, float] = defaultdict(float)
    intervals = []
    jobs = set(job_ids)
    for jid in job_ids:
        job = store.job(jid)
        out["exec.jobs"] += 1
        for sid in _seq(job.stageIds()):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numCompleteTasks()
            out["exec.executor_run_s"] += sd.executorRunTime() / 1e3
            out["exec.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["exec.gc_s"] += sd.jvmGcTime() / 1e3
            out["exec.input_rows"] += sd.inputRecords()
            out["exec.input_mb"] += sd.inputBytes() / 1e6
            out["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            out["exec.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
            a, b = _epoch_s(sd.submissionTime()), _epoch_s(sd.completionTime())
            if a is not None and b is not None:
                intervals.append((a, b))
    out["exec.stage_cover_s"] = _union_length(intervals)
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(sql.executionsList()):
        ex_jobs = {int(j) for j in ex.jobs().keySet().mkString(",").split(",") if j}
        if not ex_jobs & jobs:
            continue
        values = sql.executionMetrics(ex.executionId())
        seen = set()
        for m in _seq(ex.metrics()):
            key = PY_METRICS.get(m.name())
            # adaptive re-planning lists a node's metric again
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            text = values.get(m.accumulatorId())
            if text.isDefined():
                v = parse_metric_total(text.get())
                out[key] += v / 1e6 if key.endswith("_mb") else v
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def dir_files(path: str) -> dict[str, int]:
    """Data files (name -> size) under a lakehouse table directory."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def make_progress_listener(tracer: Tracer):
    """StreamingQueryListener feeding micro-batch progress into ``tracer``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            d = event.progress.durationMs or {}
            tracer.add("streaming.batches", 1)
            tracer.add("streaming.trigger_ms", d.get("triggerExecution", 0))
            tracer.add("streaming.add_batch_ms", d.get("addBatch", 0))
            tracer.add("streaming.planning_ms", d.get("queryPlanning", 0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()
