"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row count + column names +
order-insensitive exact values).

Implementation lives in ``lambdatotheslaughter_spark``; every operator from
SURVEY.md §2 self-registers in ``lambdatotheslaughter_spark.registry``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lambdatotheslaughter_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    return registry.get("agg_pricing_summary").fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query key (omitted → rows-only check)."""
    return registry.all_oracles()
