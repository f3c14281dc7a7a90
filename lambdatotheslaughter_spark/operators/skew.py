"""Skew & co-location operators: the two levers that decide whether a
100 TB join finishes — salting a hot key, and bucketing for shuffle-free
fact-fact joins (SURVEY §4 'skew handling' / 'partitioning & shuffle').

Both are ORACLED queries: the optimized physical strategy must produce
bit-identical results to the straightforward SQL the oracle runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import csum
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.session import scoped_conf
from lambdatotheslaughter_spark.tables import drop_managed_table, load_table

def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Create (once per warehouse) the 16-bucket orders/lineitem tables
    shared by the co-located join and the bucket-pruning scan. Bucket
    layout is a WRITE-time contract, so every reader benefits."""
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    o_tbl, l_tbl = f"lts_orders_b_{sf_tag}", f"lts_lineitem_b_{sf_tag}"
    catalog = spark.catalog
    if not (catalog.tableExists(o_tbl) and catalog.tableExists(l_tbl)):
        for tbl in (o_tbl, l_tbl):
            drop_managed_table(spark, tbl)
        (load_table(spark, "orders", sf_dir).write
         .bucketBy(16, "o_orderkey").sortBy("o_orderkey")
         .mode("overwrite").saveAsTable(o_tbl))
        (load_table(spark, "lineitem", sf_dir).write
         .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
         .mode("overwrite").saveAsTable(l_tbl))
    return o_tbl, l_tbl


_SALT_N = 8

_SALTED_ORACLE = """
WITH lang_dim AS (
  SELECT lang, COUNT(*) AS lang_docs FROM documents GROUP BY lang
)
SELECT d.lang, d.source, COUNT(*) AS n_docs,
       CAST(MIN(ld.lang_docs) AS BIGINT) AS lang_total
FROM documents d JOIN lang_dim ld ON d.lang = ld.lang
GROUP BY d.lang, d.source
"""


@register("join_skew_salted", oracle=_SALTED_ORACLE)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a skewed key: 'en' is ~44% of documents, so a plain
    shuffle join on lang puts half the table in one task. Salting appends
    pmod(hash(doc_id), N) to the big side's key and EXPLODES the small side
    N× — the hot key spreads over N tasks, and the join result is provably
    identical (the oracle runs the unsalted join).

    (At this test scale Spark would broadcast the dim anyway; the salt
    pattern is what survives when the skewed side of a fact-fact join is
    too big to broadcast and AQE's skew split can't kick in — e.g.
    aggregation-input skew.)
    """
    d = load_table(spark, "documents", sf_dir)
    lang_dim = d.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_docs"))

    salted_big = d.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(_SALT_N)))
    salted_dim = lang_dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_N)])))
    joined = salted_big.join(salted_dim, ["lang", "salt"])
    return (
        joined.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("lang_docs").cast("bigint").alias("lang_total"))
    )


_BUCKETED_ORACLE = """
SELECT o_orderkey,
       MIN(o_orderdate) AS o_orderdate,
       COUNT(*) AS n_items,
       (CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
        / 100.0) AS order_value
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderkey
"""


@register("join_bucketed_colocated", oracle=_BUCKETED_ORACLE)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join WITHOUT a runtime shuffle: both tables bucketed by the
    join key at write time (bucketBy → sortBy), so the sort-merge join reads
    co-located buckets directly. At 100 TB this converts the biggest
    exchange in the workload into pure local reads — the bucket layout is
    the Hive/Kudu-era answer that Spark inherits natively.
    tests/test_plans.py asserts the executed plan has no Exchange above the
    bucketed scans."""
    o_tbl, l_tbl = ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(o_tbl).where(F.col("o_orderstatus") == "F")
    li = spark.table(l_tbl)
    # group ONLY by the bucket key: the aggregation's required partitioning
    # then matches the bucket layout too, so the whole query has zero
    # exchanges. o_orderdate is functionally dependent → min() is exact.
    # merge hint: at test scale AQE would broadcast instead (orders is
    # tiny), hiding the bucket-join shape that matters at 100 TB.
    return (
        o.join(li.hint("merge"), o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(F.min("o_orderdate").alias("o_orderdate"),
             F.count(F.lit(1)).alias("n_items"),
             csum("l_extendedprice").alias("order_value"))
        .select("o_orderkey", "o_orderdate", "n_items", "order_value")
    )


_BLOOM_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       (CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
        / 100.0) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
GROUP BY l_returnflag
"""


@register("join_runtime_bloom_filter", oracle=_BLOOM_ORACLE)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter row pruning (the third shuffle lever after
    salting and bucketing): a selective dim-side filter (~2% of orders)
    is turned by Catalyst's InjectRuntimeFilter into a `might_contain`
    bloom predicate ON THE FACT SCAN — lineitem rows that cannot join are
    dropped BEFORE the shuffle, so the exchange carries ~2% of the fact
    table instead of all of it. This is what saves a shuffle join neither
    broadcast (dim too big) nor bucketing (ad-hoc key) can.

    Conf scoping: the fact side is far below the 10 GB application-side
    threshold at test SF (at 100 TB the defaults fire on their own), so
    the thresholds are lowered and the broadcast fallback pinned off for
    this query only — and because injection happens at OPTIMIZATION time,
    the plan is materialized (eager localCheckpoint of the 3-row result)
    inside the conf scope, then the session confs restored. The
    `might_contain` predicate's presence on the fact-scan filter is
    pinned in tests/test_plans.py; the oracle proves pruning loses no
    rows."""
    with scoped_conf(spark, BLOOM_CONFS):
        return _bloom_join(spark, sf_dir).localCheckpoint(eager=True)


BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter"
    ".applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-materialized join; shared with tests/test_plans.py so the
    `might_contain` assertion inspects exactly the operator's plan."""
    o = (load_table(spark, "orders", sf_dir)
         .where((F.col("o_orderpriority") == "1-URGENT")
                & (F.col("o_orderstatus") == "F"))
         .select("o_orderkey"))
    li = load_table(spark, "lineitem", sf_dir) \
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 csum("l_extendedprice").alias("revenue")))


# ---------------------------------------------------------------------------
# bucket pruning on read
# ---------------------------------------------------------------------------

_BUCKET_PRUNE_KEY = 100

_BUCKET_PRUNE_ORACLE = f"""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_orderkey = {_BUCKET_PRUNE_KEY}
"""


BUCKET_SCAN_CONFS = {
    # Spark's auto-bucketed-scan turns the bucketed layout OFF for plans
    # with no distribution requirement — which also forfeits bucket
    # pruning. Pin it on for this query (at 100 TB a planner that owns
    # the tradeoff would keep it on for any selective bucket-key probe).
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
}


def _bucket_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-materialized probe; shared with tests/test_plans.py so the
    SelectedBucketsCount assertion inspects exactly this plan (under
    BUCKET_SCAN_CONFS)."""
    _, l_tbl = ensure_bucketed_tables(spark, sf_dir)
    return (spark.table(l_tbl)
            .where(F.col("l_orderkey") == _BUCKET_PRUNE_KEY)
            .select("l_orderkey", "l_linenumber", "l_quantity",
                    "l_extendedprice"))


@register("scan_bucket_pruning", oracle=_BUCKET_PRUNE_ORACLE)
def scan_bucket_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket PRUNING on read — the scan-side payoff of the same bucket
    layout the co-located join exploits: an equality probe on the bucket
    key hashes the literal to ONE bucket, so the scan opens 1/16th of
    the files before any row is read (the executed plan prints
    ``SelectedBucketsCount: 1 out of 16``, pinned in tests). Combined
    with the join use, this is why bucketing the biggest fact table by
    its hottest key pays twice at 100 TB: shuffle-free joins AND
    point-lookup file pruning from the same write-time contract.

    Conf scoping mirrors join_runtime_bloom_filter: pruning happens at
    planning time, so the result is materialized (eager localCheckpoint
    of a handful of rows) inside the conf scope, then session confs are
    restored."""
    with scoped_conf(spark, BUCKET_SCAN_CONFS):
        return _bucket_prune_scan(spark, sf_dir).localCheckpoint(eager=True)
