"""Batch-view recomputation — lambda-architecture entry 3 (SURVEY.md §3).

The batch layer periodically recomputes every serving view from the
immutable master dataset and swaps it into the warehouse, while the speed
layer covers the window since the last rebuild. Merge semantics: batch view
wins; the speed view (foreachBatch upsert table, streaming/harness.py) is
consulted only for keys newer than the rebuild watermark.
"""

from __future__ import annotations

import re
import time

from pyspark.sql import SparkSession

from lambdatotheslaughter_spark import registry
from lambdatotheslaughter_spark.tables import save_managed_table

# serving views worth persisting (small, frequently queried aggregates)
DEFAULT_VIEWS = (
    "agg_pricing_summary",
    "join_multiway_star",
    "topk_global",
    "stream_tumbling_agg",
    "stream_session_window",
    "llm_text_stats",
)


def rebuild_views(spark: SparkSession, sf_dir: str,
                  views: tuple[str, ...] = DEFAULT_VIEWS) -> dict[str, float]:
    """Recompute each serving view and overwrite its managed table
    (`lts_view_<name>`). Returns per-view rebuild seconds. Overwrite is
    atomic per table from a reader's perspective (catalog swap)."""
    timings: dict[str, float] = {}
    for name in views:
        fn = registry.get(name).fn
        table = f"lts_view_{re.sub(r'[^a-z0-9_]', '_', name)}"
        t0 = time.perf_counter()
        save_managed_table(spark, fn(spark, sf_dir), table)
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings
