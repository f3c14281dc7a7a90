"""Batch-view rebuild (lambda entry 3): views land in the catalog, match
a fresh computation, and are swapped in whole while readers read them."""

from __future__ import annotations

import dataclasses
import os
import shutil
import threading
import uuid

import pytest

from lambdatotheslaughter_spark import registry, tables
from lambdatotheslaughter_spark.plans.rebuild import DEFAULT_VIEWS, rebuild_views
from tests.conftest import SMOKE_SF_DIR, canonical_rows

_VIEWS = {name: f"lts_view_{name}" for name in DEFAULT_VIEWS}

# rebuilds the reader test may run while it waits for enough reads
_MAX_REBUILDS = 20
_MIN_READS = 5


def _warehouse_path(spark, name: str) -> str:
    return os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), name)


def test_rebuild_views_roundtrip(spark):
    timings = rebuild_views(spark, SMOKE_SF_DIR)
    assert set(timings) == set(DEFAULT_VIEWS)
    for name, view in _VIEWS.items():
        stored = spark.table(view).toPandas()
        fresh = registry.get(name).fn(spark, SMOKE_SF_DIR).toPandas()
        assert canonical_rows(stored) == canonical_rows(fresh), name


def test_readers_never_lose_a_view(spark):
    """A reader collecting every view in a loop while the views are rebuilt
    over and over never fails, and each view keeps at most two versions."""
    rebuild_views(spark, SMOKE_SF_DIR)
    reads = dict.fromkeys(_VIEWS.values(), 0)
    failures: list[str] = []
    stop = threading.Event()

    def read() -> None:
        while not stop.is_set():
            for view in reads:
                try:
                    spark.table(view).collect()
                    reads[view] += 1
                except Exception as e:
                    failures.append(f"{view}: {str(e).splitlines()[0]}")

    reader = threading.Thread(target=read)
    reader.start()
    try:
        for _ in range(_MAX_REBUILDS):
            rebuild_views(spark, SMOKE_SF_DIR)
            if min(reads.values()) >= _MIN_READS:
                break
    finally:
        stop.set()
        reader.join()
    assert failures == [], failures[:5]
    assert min(reads.values()) >= _MIN_READS, reads
    for view in reads:
        assert len(os.listdir(_warehouse_path(spark, view))) <= 2, view


def test_failing_view_raises_and_keeps_its_old_version(spark, monkeypatch):
    """A view whose write fails makes the rebuild raise; the other views are
    still published, and the failed one reads its previous version."""
    rebuild_views(spark, SMOKE_SF_DIR)
    before = {view: (spark.table(view).inputFiles(),
                     canonical_rows(spark.table(view).toPandas()))
              for view in _VIEWS.values()}
    failing = "topk_global"
    monkeypatch.setitem(registry._REGISTRY, failing, dataclasses.replace(
        registry.get(failing),
        fn=lambda s, _sf_dir: s.range(1).selectExpr(
            "CAST(raise_error('boom') AS BIGINT) AS x")))
    with pytest.raises(Exception, match="boom"):
        rebuild_views(spark, SMOKE_SF_DIR)
    for name, view in _VIEWS.items():
        files, rows = before[view]
        assert canonical_rows(spark.table(view).toPandas()) == rows, name
        republished = spark.table(view).inputFiles() != files
        assert republished == (name != failing), name


def test_publish_view_clears_orphan_location(spark):
    """Files an earlier process's managed table left under the view's
    warehouse directory are deleted when the view is published."""
    view = f"lts_orphan_view_{uuid.uuid4().hex[:8]}"
    loc = _warehouse_path(spark, view)
    os.makedirs(loc)
    planted = os.path.join(loc, "part-orphan.parquet")
    with open(planted, "w") as fh:
        fh.write("left by an earlier process")
    df = spark.range(7).selectExpr("id", "id * 3 AS v")
    try:
        tables.publish_view(spark, df, view)
        assert (canonical_rows(spark.table(view).toPandas())
                == canonical_rows(df.toPandas()))
        assert not os.path.exists(planted) and len(os.listdir(loc)) == 1
    finally:
        spark.sql(f"DROP VIEW IF EXISTS {view}")
        shutil.rmtree(loc, ignore_errors=True)


def test_save_managed_table_clears_orphan_location(spark):
    """A warehouse directory left by another process's catalog does not
    block the write: the table lands and the orphan's files are gone."""
    table = f"lts_orphan_{uuid.uuid4().hex[:8]}"
    assert not spark.catalog.tableExists(table)
    loc = _warehouse_path(spark, table)
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
