"""Query/oracle registry — the backbone of the SURVEY §2 contract.

Every declared operator registers itself here with its SURVEY §2 key; the
DuckDB oracle SQL (when one exists) lives adjacent to the Spark code so the
pair can never drift apart. ``__spark_entry__.py`` re-exports these dicts.

Usage::

    @register("d2", oracle=\"\"\"SELECT ... \"\"\")
    def pricing_summary(spark, sf_dir):
        ...
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from scopus_spark import execution

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Every module that registers queries. Imported lazily so `import
# scopus_spark` stays cheap and import errors surface per-module.
_QUERY_MODULES = (
    "scopus_spark.queries.scans",
    "scopus_spark.queries.filters",
    "scopus_spark.queries.joins",
    "scopus_spark.queries.aggregates",
    "scopus_spark.queries.windows",
    "scopus_spark.queries.sorts",
    "scopus_spark.queries.setops",
    "scopus_spark.queries.functions",
    "scopus_spark.queries.streaming",
    "scopus_spark.queries.llm",
    "scopus_spark.queries.pipeline",
    "scopus_spark.queries.udfs",
    "scopus_spark.queries.subqueries",
    "scopus_spark.queries.graph",
    "scopus_spark.queries.sampling",
    "scopus_spark.queries.composite",
    "scopus_spark.queries.composite2",
    "scopus_spark.queries.timeseries",
    "scopus_spark.queries.etl_queries",
)

_LOADED = False


def register(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under its SURVEY §2 key, optionally with DuckDB
    oracle SQL. The registry's entry builds in an ``execution.query``
    scope: what the build pins lives as long as the returned frame.
    The decorated function itself is returned unchanged.

    After adding/removing a key, run ``python tools/sync.py`` — it
    regenerates the generated contract docs (SURVEY §2.Z + docs/COVERAGE.md)
    from the live registry; the inventory-diff test stays red until then.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in _QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        _QUERIES[key] = functools.update_wrapper(
            functools.partial(execution.query, fn), fn)
        if oracle is not None:
            _ORACLES[key] = oracle
        return fn

    return deco


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)
