"""Batch-view recomputation — lambda-architecture entry 3 (SURVEY.md §3).

The batch layer periodically recomputes every serving view from the
immutable master dataset and swaps it into the warehouse. The speed layer
keeps its own serving table (the foreachBatch upsert in
streaming/harness.py). No read merges the two: a reader queries either a
batch view or the serving table, and a rebuild records no watermark.

A rebuild submits every view at once, one thread per view, in the one
session, so the views' small Spark jobs share the cores instead of running
one after another. Each view is published through ``tables.publish_view``:
a new parquet version, then one catalog repoint, so a reader always finds
a whole view. A view builder must therefore return a lazy plan, and set no
session conf and register no temp view while building it;
tests/test_oracle_parity.py checks this for every registry key.
"""

from __future__ import annotations

import re
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from lambdatotheslaughter_spark import registry
from lambdatotheslaughter_spark.tables import publish_view

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
    """Recompute each serving view and publish it as ``lts_view_<name>``.

    The views are built concurrently, one thread per view; each thread
    inherits the caller's local properties (job group and description) and
    session tags. Returns per-view wall seconds; the views overlap, so their
    sum exceeds the rebuild's total. Every view finishes, published or
    failed, before this returns; then the first failure in ``views`` order
    is raised. A view that failed keeps its previous version."""
    def rebuild(name: str) -> float:
        t0 = time.perf_counter()
        view = f"lts_view_{re.sub(r'[^a-z0-9_]', '_', name)}"
        publish_view(spark, registry.get(name).fn(spark, sf_dir), view)
        return round(time.perf_counter() - t0, 3)

    # each view gets its own copy of the caller's local properties (and
    # session tags): Spark sets the SQL execution id in them per thread
    with ThreadPoolExecutor(max_workers=max(len(views), 1)) as pool:
        futures = {name: pool.submit(inheritable_thread_target(spark)(rebuild), name)
                   for name in views}
    return {name: f.result() for name, f in futures.items()}
