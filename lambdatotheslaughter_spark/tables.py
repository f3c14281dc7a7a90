"""Table loader with explicit schemas (schema-on-write, the Kudu/Hive model —
SURVEY.md §1.3). Explicit StructTypes keep the analyzer honest and make the
reader prune columns against a known schema instead of inferring per job.

Schemas measured from the driver's parquet footers (FIXTURES.md).

Managed tables in the session's warehouse are written and dropped only
through ``save_managed_table`` and ``drop_managed_table``; batch views are
published only through ``publish_view``.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]),
    # events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) (the first
    # testdata) and TIMESTAMP(MICROS) (regenerated) — the physical unit is
    # detected per-dataset from the parquet footer (events_ts_unit) and the
    # matching read schema picked in events_reader. This entry is the
    # NANOS-era variant: Spark has no nanosecond timestamp, so ts reads as
    # raw int64 (legacy.parquet.nanosAsLong) and truncates to µs (DuckDB
    # does the same truncation).
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}

TABLE_NAMES = tuple(SCHEMAS)

# micros-era events schema: ts reads directly as a (naive-UTC) timestamp
EVENTS_US_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()) if f.name == "ts" else f
    for f in SCHEMAS["events"]
])

_EVENTS_TS_UNIT: dict[str, str] = {}


def events_ts_unit(sf_dir: str) -> str:
    """Physical unit ('ns' or 'us') of events.ts in this testdata
    generation, read once per dataset from the parquet footer. The
    testdata generator has shipped both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) variants; hardcoding either unit silently shifts
    every events timestamp 1000× (all of January 2024 collapses onto
    1970-01-20), so the footer is the only safe source of truth."""
    path = os.path.join(sf_dir, "events.parquet")
    key = os.path.abspath(path)
    if key not in _EVENTS_TS_UNIT:
        import pyarrow.parquet as pq

        f = path
        if os.path.isdir(path):
            for dp, _, fs in sorted(os.walk(path)):
                cand = sorted(x for x in fs if x.endswith(".parquet"))
                if cand:
                    f = os.path.join(dp, cand[0])
                    break
        _EVENTS_TS_UNIT[key] = pq.ParquetFile(f).schema_arrow.field("ts").type.unit
    return _EVENTS_TS_UNIT[key]


def events_reader(spark: SparkSession, sf_dir: str,
                  streaming: bool = False) -> DataFrame:
    """events with a normalized µs `ts` timestamp, batch or file-stream.
    Shared by load_table and the live Structured Streaming sources so the
    ns/µs footer dispatch lives in exactly one place."""
    unit = events_ts_unit(sf_dir)
    if unit == "ns":
        # runtime-settable SQL conf; works on any session the driver hands us
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = SCHEMAS["events"]
    else:
        schema = EVENTS_US_SCHEMA
    if streaming:
        # file-stream sources require a directory: stream the sf dir but
        # glob down to the single events file
        df = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    else:
        df = spark.read.schema(schema).parquet(
            os.path.join(sf_dir, "events.parquet"))
    if unit == "ns":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Read one table. Explicit schema keeps column pruning / filter pushdown
    exact and avoids per-query footer inference on a 100 TB lake."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; one of {TABLE_NAMES}")
    # defensive: queries may run in the DRIVER's session, whose configs we
    # don't control. UTC keeps timestamp values aligned with the DuckDB
    # oracle (naive-UTC); both confs are runtime-settable.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return events_reader(spark, sf_dir)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def _warehouse_path(spark: SparkSession, table: str) -> str:
    return os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), table)


def drop_managed_table(spark: SparkSession, table: str) -> None:
    """Drop a managed table and any orphan warehouse directory under its
    name. Each process has its own catalog over the shared warehouse, so a
    directory a previous process left behind is unknown to this catalog,
    and ``saveAsTable`` would refuse the existing location."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = _warehouse_path(spark, table)
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def save_managed_table(spark: SparkSession, df: DataFrame, table: str) -> None:
    """Overwrite a managed table, tolerating an orphan warehouse
    directory."""
    drop_managed_table(spark, table)
    df.write.mode("overwrite").saveAsTable(table)


def _view_version(spark: SparkSession, view: str) -> str | None:
    """The version directory ``view`` reads now, or None if there is no
    such view."""
    if not spark.catalog.tableExists(view):
        return None
    text = spark.sql(f"SHOW CREATE TABLE {view}").first()[0]
    m = re.search(r"parquet\.`([^`]*)`", text)
    return os.path.basename(m.group(1)) if m else None


def publish_view(spark: SparkSession, df: DataFrame, view: str) -> None:
    """Write ``df`` as a new version of the view ``view`` and swap it in.

    The frame is written as parquet to a fresh version directory,
    ``<warehouse>/<view>/<version>``, then one ``ALTER VIEW`` (``CREATE
    VIEW`` the first time) repoints the view at it, then every entry under
    ``<warehouse>/<view>`` but the new version and the one it replaced is
    deleted (an orphan managed table of an earlier process included). A reader finds the old
    version or the new one, never no view, and a reader still on the old
    version finishes. A failed write leaves the view on its old version.

    A view over a path is resolved again on every read, and a version
    directory is never changed after its write, so no cached file listing
    outlives the swap."""
    root = _warehouse_path(spark, view)
    replaced = _view_version(spark, view)
    version = uuid.uuid4().hex
    path = os.path.join(root, version)
    df.write.parquet(path)
    # ALTER VIEW swaps the definition in one catalog call; CREATE OR REPLACE
    # VIEW drops the view and then creates it, and a reader in between
    # finds no view
    verb = "ALTER" if spark.catalog.tableExists(view) else "CREATE"
    spark.sql(f"{verb} VIEW {view} AS SELECT * FROM parquet.`{path}`")
    sweep_versions(root, {version, replaced})


def sweep_versions(root: str, keep: set[str | None]) -> None:
    """The retention rule of a versioned table: delete every entry under
    ``root`` (version directories and stray files alike) whose name is
    not in ``keep``, the new version and the one it replaced."""
    for old in set(os.listdir(root)) - keep:
        old = os.path.join(root, old)
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.remove(old)
