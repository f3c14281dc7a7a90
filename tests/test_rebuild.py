"""Batch-view rebuild (lambda entry 3): views land in the catalog and match
a fresh computation."""

from __future__ import annotations

import os
import uuid

from lambdatotheslaughter_spark import registry, tables
from lambdatotheslaughter_spark.plans.rebuild import rebuild_views
from tests.conftest import SMOKE_SF_DIR, canonical_rows


def test_rebuild_views_roundtrip(spark):
    timings = rebuild_views(spark, SMOKE_SF_DIR,
                            views=("agg_pricing_summary", "llm_text_stats"))
    assert set(timings) == {"agg_pricing_summary", "llm_text_stats"}
    for name in timings:
        stored = spark.table(f"lts_view_{name}").toPandas()
        fresh = registry.get(name).fn(spark, SMOKE_SF_DIR).toPandas()
        assert canonical_rows(stored) == canonical_rows(fresh), name


def test_save_managed_table_clears_orphan_location(spark):
    """A warehouse directory left by another process's catalog does not
    block the write: the table lands and the orphan's files are gone."""
    table = f"lts_orphan_{uuid.uuid4().hex[:8]}"
    assert not spark.catalog.tableExists(table)
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), table)
    os.makedirs(loc)
    planted = os.path.join(loc, "part-orphan.parquet")
    with open(planted, "w") as fh:
        fh.write("left by an earlier process")
    df = spark.range(7).selectExpr("id", "id * 3 AS v")
    try:
        tables.save_managed_table(spark, df, table)
        assert (canonical_rows(spark.table(table).toPandas())
                == canonical_rows(df.toPandas()))
        assert not os.path.exists(planted)
    finally:
        tables.drop_managed_table(spark, table)
