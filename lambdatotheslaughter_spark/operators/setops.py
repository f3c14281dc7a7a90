"""Set operations (SURVEY.md §2.7).

UNION ALL is a zero-shuffle concatenation; UNION/INTERSECT/EXCEPT hash-shuffle
on the full row — at scale prefer pre-aggregated (distinct user_id) inputs,
which is how these queries are shaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table


def _slice(spark, sf_dir, etype):
    ev = load_table(spark, "events", sf_dir)
    return ev.where(F.col("event_type") == etype).select("user_id", "event_type", "value")


def _users_before(spark, sf_dir, etype, cutoff):
    """user_id of each ``etype`` event and of each purchase before the
    ``cutoff`` timestamp: the two sides of the time-sliced set ops."""
    ev = load_table(spark, "events", sf_dir)
    before = F.col("ts") < F.lit(cutoff).cast("timestamp")
    return tuple(ev.where((F.col("event_type") == t) & before)
                 .select("user_id") for t in (etype, "purchase"))


@register("set_union_all", oracle="""
SELECT user_id, event_type, value FROM events WHERE event_type = 'click'
UNION ALL
SELECT user_id, event_type, value FROM events WHERE event_type = 'purchase'
""")
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union of two slices — unionByName, duplicates preserved."""
    return _slice(spark, sf_dir, "click").unionByName(_slice(spark, sf_dir, "purchase"))


@register("set_union_distinct", oracle="""
SELECT user_id, event_type FROM events WHERE event_type = 'click'
UNION
SELECT user_id, event_type FROM events WHERE event_type = 'purchase'
""")
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union (dedup across both inputs)."""
    a = _slice(spark, sf_dir, "click").select("user_id", "event_type")
    b = _slice(spark, sf_dir, "purchase").select("user_id", "event_type")
    return a.unionByName(b).distinct()


@register("set_intersect", oracle="""
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""")
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who both clicked and purchased (set semantics)."""
    a = _slice(spark, sf_dir, "click").select("user_id")
    b = _slice(spark, sf_dir, "purchase").select("user_id")
    return a.intersect(b)


@register("set_except", oracle="""
SELECT user_id FROM events
WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-03 00:00:00'
EXCEPT
SELECT user_id FROM events
WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03 00:00:00'
""")
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who viewed but hadn't purchased in the first two days (set
    difference). Time-sliced so the result is non-empty at sf0.01 — every
    user eventually does everything in the synthetic stream."""
    a, b = _users_before(spark, sf_dir, "view", "2024-01-03")
    return a.subtract(b)


@register("set_intersect_all", oracle="""
SELECT user_id FROM events
WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00'
INTERSECT ALL
SELECT user_id FROM events
WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-05 00:00:00'
""")
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection (INTERSECT ALL): each user_id appears
    min(count_left, count_right) times — the multiplicity-aware form both
    engines implement by hashing full rows with counters; one shuffle."""
    a, b = _users_before(spark, sf_dir, "click", "2024-01-05")
    return a.intersectAll(b)


@register("set_except_all", oracle="""
SELECT user_id FROM events
WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-05 00:00:00'
EXCEPT ALL
SELECT user_id FROM events
WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-05 00:00:00'
""")
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (EXCEPT ALL): multiplicities subtract instead of the
    set form's all-or-nothing — views in excess of purchases per user."""
    a, b = _users_before(spark, sf_dir, "view", "2024-01-05")
    return a.exceptAll(b)


@register("set_union_by_name", oracle="""
WITH u AS (
  SELECT o_orderkey AS k, o_totalprice AS price, o_orderpriority AS prio
  FROM orders WHERE o_orderkey < 4000
  UNION ALL BY NAME
  SELECT l_orderkey AS k, l_extendedprice AS price, l_quantity AS qty
  FROM lineitem WHERE l_orderkey < 4000
)
SELECT k % 10 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE prio IS NULL) AS BIGINT) AS n_no_prio,
       CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
         AS price_cents,
       CAST(SUM(COALESCE(CAST(qty AS BIGINT), 0)) AS BIGINT) AS total_qty
FROM u GROUP BY k % 10
""")
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-flexible bag union: unionByName(allowMissingColumns=True)
    aligns two sources by COLUMN NAME, null-padding columns the other
    side lacks (orders carry a priority, lineitems carry a quantity) —
    the ingestion-time shape for merging feed versions that drifted
    apart, where positional UNION ALL would silently misalign. DuckDB's
    native `UNION ALL BY NAME` is the oracle twin. Aggregated by key
    bucket with integer-cents sums so the hash is order-free.

    Scale shape: the union itself is a zero-shuffle concatenation (the
    null padding is a map-side project); the only exchange is the final
    10-bucket combinable aggregate."""
    o = (load_table(spark, "orders", sf_dir)
         .where(F.col("o_orderkey") < 4000)
         .select(F.col("o_orderkey").alias("k"),
                 F.col("o_totalprice").alias("price"),
                 F.col("o_orderpriority").alias("prio")))
    li = (load_table(spark, "lineitem", sf_dir)
          .where(F.col("l_orderkey") < 4000)
          .select(F.col("l_orderkey").alias("k"),
                  F.col("l_extendedprice").alias("price"),
                  F.col("l_quantity").alias("qty")))
    from lambdatotheslaughter_spark.determinism import iround
    u = o.unionByName(li, allowMissingColumns=True)
    return (u.groupBy((F.col("k") % 10).alias("bucket"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.count_if(F.col("prio").isNull()).cast("bigint")
                 .alias("n_no_prio"),
                 F.sum(iround(F.col("price") * 100)).cast("bigint")
                 .alias("price_cents"),
                 F.sum(F.coalesce(F.col("qty").cast("bigint"), F.lit(0)))
                 .cast("bigint").alias("total_qty")))
