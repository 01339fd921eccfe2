"""Query registry — the single source of truth for the driver contract.

Every operator in SURVEY.md §2 registers here as a named query:

    @register("q_agg_basic", oracle="SELECT ... ")
    def q_agg_basic(spark, sf_dir): ...

``queries()`` / ``oracles()`` feed ``__spark_entry__.py`` directly.
Queries registered with ``oracle=None`` are rows-only checks (not
SQL-expressible in DuckDB: inference, LSH, streaming, sinks).

Design rules enforced by convention here (SURVEY.md §7 risks):
  * every computed/aggregate column is aliased identically in the Spark
    query and the oracle SQL;
  * floating aggregate outputs are rounded to 6 decimals on both sides;
  * timestamps are cast to DATE / date_trunc'ed before being exposed;
  * collect_list-style outputs are sorted (sort_array / list_sort).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    # ANSI SQL for DuckDB, a zero-arg callable returning it (resolved
    # when oracle_sql() is called — for oracles that embed runtime
    # state like a pid-scoped scratch path), or None => rows-only check
    oracle: Optional[str | Callable[[], str]]
    tags: tuple = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str] = None, tags: tuple = ()):
    """Register a (spark, sf_dir) -> DataFrame callable under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "")
        )
        return fn

    return deco


def specs() -> dict[str, QuerySpec]:
    """Registered queries, oracle-backed first and rows-only (no-oracle)
    last, each group in registration order: a rows-only check never
    takes a slot ahead of an oracle-backed one in a driver that verifies
    a prefix."""
    _ensure_loaded()
    return dict(sorted(_REGISTRY.items(), key=lambda kv: kv[1].oracle is None))


def queries() -> dict[str, QueryFn]:
    """Registered queries, each wrapped to apply the engine confs first:
    the driver may call these on a session that never went through
    entry()/get_spark(), and oracle parity needs e.g. the UTC session
    timezone regardless of how the session was built."""

    def with_confs(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from .session import apply_engine_confs

            apply_engine_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        return wrapped

    return {n: with_confs(s.fn) for n, s in specs().items()}


def oracles() -> dict[str, str]:
    """Oracle SQL per query; callable oracles resolve NOW (i.e. in the
    process and at the time the driver asks, not at import)."""
    return {
        n: (s.oracle() if callable(s.oracle) else s.oracle)
        for n, s in specs().items()
        if s.oracle is not None
    }


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    _LOADED = True
    from importlib import import_module

    pkg = __package__  # embarrassingly_parallel_image_classification_spark
    for mod in _QUERY_MODULES:
        import_module(f"{pkg}.{mod}")


_QUERY_MODULES = (
        "operators.projection",
        "operators.joins",
        "operators.aggregates",
        "operators.windows",
        "operators.sort_limit",
        "operators.timeseries",
        "operators.analytics",
        "operators.stats",
        "operators.graph",
        "operators.setops",
        "functions.scalar",
        "functions.vectors",
        "ml.inference",
        "ml.udfs",
        "ml.knn",
        "ml.dedup",
        "ml.cluster",
        "ml.text",
        "ml.corpus",
        "ml.cleaning",
        "ml.curation",
        "ml.features",
        "ml.training",
        "ml.multimodal",
        "sources.formats",
        "sources.custom",
        "streaming.queries",
        "plans.tpch",
        "plans.tpch2",
        "plans.scale",
        "plans.pipeline",
        "plans.lakehouse",
        "pandas_api",
)
# NOTE: module-load errors propagate — a missing/broken module must fail
# loudly, never silently shrink the registry (a swallowed import error
# here would just make the driver run fewer correctness checks).
