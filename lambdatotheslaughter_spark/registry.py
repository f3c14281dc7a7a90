"""Operator/query registry — the single source of truth behind
``__spark_entry__.py``'s ``queries()`` / ``oracle_sql()`` (driver contract).

Each operator from SURVEY.md §2 registers itself here with a Spark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, the equivalent
DuckDB oracle SQL over the pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings). Ops without an oracle get the driver's weaker rows-only check
(streaming semantics, approx algorithms).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Registered:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


_REGISTRY: dict[str, Registered] = {}

# operator modules; importing them populates the registry
_MODULES = (
    "lambdatotheslaughter_spark.operators.scans",
    "lambdatotheslaughter_spark.operators.filters",
    "lambdatotheslaughter_spark.operators.joins",
    "lambdatotheslaughter_spark.operators.aggregates",
    "lambdatotheslaughter_spark.operators.windows",
    "lambdatotheslaughter_spark.operators.sorts",
    "lambdatotheslaughter_spark.operators.setops",
    "lambdatotheslaughter_spark.operators.functions",
    "lambdatotheslaughter_spark.operators.streaming_twins",
    "lambdatotheslaughter_spark.operators.llm",
    "lambdatotheslaughter_spark.operators.udfs",
    "lambdatotheslaughter_spark.operators.skew",
    "lambdatotheslaughter_spark.operators.graph",
    "lambdatotheslaughter_spark.operators.corpus",
    "lambdatotheslaughter_spark.operators.stats",
    "lambdatotheslaughter_spark.operators.timeseries",
    "lambdatotheslaughter_spark.operators.sequences",
    "lambdatotheslaughter_spark.operators.quality",
    "lambdatotheslaughter_spark.operators.sql",
)

_loaded = False


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under SURVEY.md §2's key naming."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key {name!r}")
        _REGISTRY[name] = Registered(name=name, fn=fn, oracle=oracle,
                                     doc=(fn.__doc__ or "").strip())
        return fn
    return deco


def _load() -> None:
    global _loaded
    if not _loaded:
        for mod in _MODULES:
            importlib.import_module(mod)
        _loaded = True


def all_queries() -> dict[str, QueryFn]:
    _load()
    return {r.name: r.fn for r in _REGISTRY.values()}


def all_oracles() -> dict[str, str]:
    _load()
    return {r.name: r.oracle for r in _REGISTRY.values()
            if r.oracle is not None}


def get(name: str) -> Registered:
    _load()
    return _REGISTRY[name]
