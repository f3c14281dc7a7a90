"""Join operators (SURVEY.md §2.3).

Scale notes baked into each shape:
- dimension joins (nation/region/supplier) are explicit ``F.broadcast`` —
  no shuffle of the fact table;
- the fact-fact equi joins shuffle on their keys once and let AQE pick
  sort-merge vs shuffled-hash;
- the as-of join is the union+running-window formulation (one sort per
  partition key) rather than the naive pair-join + filter, which explodes
  at 100 TB;
- the interval join is rewritten hour-bucket-equi + residual filter, so it
  broadcasts instead of nested-looping.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import (
    disc_price_csum, dsum, oracle_disc_price_csum, oracle_dsum)
from lambdatotheslaughter_spark.operators.sql import scd2_collapse
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table


@register("join_inner_equi", oracle="""
SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
""")
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain equi inner join on the FK; Catalyst/AQE picks the strategy."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderstatus") == "F")
    c = load_table(spark, "customer", sf_dir)
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_custkey", "c_mktsegment", "o_totalprice")


_BROADCAST_ORACLE = f"""
SELECT n_name,
       {oracle_dsum('l_quantity')} AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@register("join_broadcast", oracle=_BROADCAST_ORACLE)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ small dims with forced broadcast: zero shuffle of lineitem
    before the aggregate — the only sane plan at 100 TB."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("l_quantity").alias("sum_qty"),
             F.count(F.lit(1)).alias("n_rows"))
    )


_Q5_ORACLE = f"""
SELECT n_name,
       {oracle_disc_price_csum('l_extendedprice', 'l_discount')} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@register("join_multiway_star", oracle=_Q5_ORACLE)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star chain. Dims broadcast, facts shuffle on
    FK keys once each; AQE reorders/coalesces at runtime."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).where(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(s),
              (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(disc_price_csum("l_extendedprice", "l_discount").alias("revenue"))
    )


@register("join_left_right_full", oracle="""
WITH recent AS (
  SELECT o_custkey, COUNT(*) AS n_orders
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
  GROUP BY o_custkey
), pos AS (
  SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000
)
SELECT pos.c_custkey, pos.c_name, recent.o_custkey, recent.n_orders
FROM pos FULL JOIN recent ON pos.c_custkey = recent.o_custkey
""")
def join_left_right_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with null extension on BOTH sides: rich customers
    with no recent orders, and recent-order customers who aren't rich."""
    c = load_table(spark, "customer", sf_dir).where(F.col("c_acctbal") > 5000) \
        .select("c_custkey", "c_name")
    recent = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(recent, c.c_custkey == recent.o_custkey, "full").select(
        "c_custkey", "c_name", "o_custkey", "n_orders")


@register("join_semi", oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""")
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having >= 1 urgent order. Semi join never
    duplicates the left side — no post-dedup needed."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register("join_anti", oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
""")
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no orders since 2000."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register("join_theta_range", oracle="""
SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
       a.p_retailprice AS a_price, b.p_retailprice AS b_price
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND b.p_retailprice BETWEEN a.p_retailprice * 0.99 AND a.p_retailprice * 1.01
WHERE a.p_brand = 'Brand#1' AND b.p_brand = 'Brand#1'
""")
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi theta join (price-band self pairs). The small side is
    broadcast explicitly — a nested-loop join must never shuffle-explode."""
    p = load_table(spark, "part", sf_dir).where(F.col("p_brand") == "Brand#1")
    a = p.select(F.col("p_partkey").alias("a_key"), F.col("p_retailprice").alias("a_price"))
    b = p.select(F.col("p_partkey").alias("b_key"), F.col("p_retailprice").alias("b_price"))
    cond = (F.col("a_key") < F.col("b_key")) & \
        F.col("b_price").between(F.col("a_price") * 0.99, F.col("a_price") * 1.01)
    return a.join(F.broadcast(b), cond).select("a_key", "b_key", "a_price", "b_price")


@register("join_cross", oracle="""
SELECT r_name, o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
""")
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small cartesian: 5 regions x 3 statuses."""
    r = load_table(spark, "region", sf_dir).select("r_name")
    s = load_table(spark, "orders", sf_dir).select("o_orderstatus").distinct()
    return r.crossJoin(s)


_ASOF_ORACLE = """
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       p.ts AS purchase_ts,
       c.event_id AS click_id,
       c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts > c.ts
"""


@register("join_asof_event_order", oracle=_ASOF_ORACLE)
def join_asof_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest strictly-prior
    click (speed-layer enrichment pattern, SURVEY.md §2.3).

    Spark has no native as-of; this is the scalable union+running-window
    formulation: tag both streams, one window sort per user, carry the last
    click forward with last(ignorenulls). One shuffle on user_id, linear in
    input — unlike the pair-join formulation, which is quadratic per user.
    DuckDB's native ASOF JOIN is the independent cross-check.
    (ts values are unique per user — verified — so no tie-break is needed.)
    """
    ev = load_table(spark, "events", sf_dir)
    tagged = ev.where(F.col("event_type").isin("purchase", "click"))
    w = Window.partitionBy("user_id").orderBy("ts") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_click = F.col("event_type") == "click"
    enriched = tagged.select(
        "event_id", "user_id", "ts", "event_type",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True).over(w).alias("click_id"),
        F.last(F.when(is_click, F.col("ts")), ignorenulls=True).over(w).alias("click_ts"),
    )
    return (
        enriched.where((F.col("event_type") == "purchase") & F.col("click_id").isNotNull())
        .select(F.col("event_id").alias("purchase_id"), "user_id",
                F.col("ts").alias("purchase_ts"), "click_id", "click_ts")
    )


_INTERVAL_ORACLE = f"""
WITH win AS (
  SELECT w_start, w_start + INTERVAL 30 MINUTE AS w_end
  FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                      TIMESTAMP '2024-01-30 00:00:00',
                                      INTERVAL 1 HOUR)) AS w_start)
)
SELECT w_start, COUNT(*) AS n_events, {oracle_dsum('value')} AS sum_value
FROM events JOIN win ON ts >= w_start AND ts < w_end
GROUP BY w_start
"""


@register("join_interval_overlap", oracle=_INTERVAL_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events joined to the 30-min maintenance window at the top of each hour.

    Formulated as hour-bucket EQUI join + residual time filter instead of a
    raw range join: the equi key lets Spark broadcast-hash instead of
    nested-looping every (event, window) pair — the difference between
    O(n) and O(n*w) at scale.
    """
    ev = load_table(spark, "events", sf_dir)
    win = spark.range(1).select(F.explode(F.sequence(
        F.lit("2024-01-01 00:00:00").cast("timestamp"),
        F.lit("2024-01-30 00:00:00").cast("timestamp"),
        F.expr("INTERVAL 1 HOUR"))).alias("w_start"))
    win = win.withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 30 MINUTE"))
    bucketed = ev.withColumn("hour_bucket", F.date_trunc("hour", "ts"))
    return (
        bucketed.join(F.broadcast(win), bucketed.hour_bucket == win.w_start)
        .where((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .groupBy("w_start")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
    )


@register("join_self_dedup_pairs", oracle="""
SELECT a.label AS label, COUNT(*) AS n_pairs
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
GROUP BY a.label
""")
def join_self_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join pair generation (the skeleton under similarity dedup):
    candidate pairs are co-partitioned by label (the blocking key), so each
    block's quadratic blow-up stays partition-local."""
    e = load_table(spark, "embeddings", sf_dir)
    a = e.select(F.col("vec_id").alias("a_id"), F.col("label").alias("label"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("label").alias("b_label"))
    return (
        a.join(b, (a.label == b.b_label) & (a.a_id < b.b_id))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_NULLSAFE_ORACLE = """
WITH a AS (
  SELECT event_id, CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS k
  FROM events WHERE event_type = 'click' AND event_id < 3000
), b AS (
  SELECT event_id, CASE WHEN event_id % 5 = 0 THEN NULL ELSE user_id END AS k
  FROM events WHERE event_type = 'purchase' AND event_id < 3000
)
SELECT a.k AS k, COUNT(*) AS n_pairs,
       CAST(SUM(a.event_id + b.event_id) AS BIGINT) AS id_sum
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY a.k
"""


@register("join_null_safe_eq", oracle=_NULLSAFE_ORACLE)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics needed when NULL
    is a real category (unknown attribution bucket) rather than absence.
    Still a hash-equi join: `<=>` is an equi comparison Catalyst plans as
    BroadcastHashJoin/SMJ, NOT a nested loop (the planner treats the
    null-safe operator as a join key). NULL becomes a hot key by nature —
    at scale the salting pattern (join_skew_salted) applies to it."""
    ev = load_table(spark, "events", sf_dir).where(F.col("event_id") < 3000)
    a = (ev.where(F.col("event_type") == "click")
         .select(F.col("event_id").alias("a_id"),
                 F.when(F.col("event_id") % 7 == 0, None)
                  .otherwise(F.col("user_id")).alias("k")))
    b = (ev.where(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("b_id"),
                 F.when(F.col("event_id") % 5 == 0, None)
                  .otherwise(F.col("user_id")).alias("bk")))
    return (
        a.join(b, a.k.eqNullSafe(b.bk))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             (F.sum(F.col("a_id") + F.col("b_id"))).cast("bigint")
             .alias("id_sum"))
    )


_BINNED_W_US = 300_000_000  # 5-minute attribution window, in µs

_BINNED_ORACLE = """
SELECT v.event_id AS view_event_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       MIN(p.event_id) AS first_purchase_id
FROM events v JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) > epoch_us(v.ts)
 AND epoch_us(p.ts) <= epoch_us(v.ts) + 300000000
GROUP BY v.event_id
"""


@register("join_interval_binned", oracle=_BINNED_ORACLE)
def join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned (bucketized) interval join — the EQUI-join scale path for
    bounded-length interval overlap, complementing join_interval_overlap's
    theta form: views open a 5-minute attribution window, purchases are
    points, and the question is purchases per view window.

    Because the window length is bounded by one bin width, each interval
    overlaps exactly 2 time bins (arithmetic `sequence` explode — no
    join), while each point lives in exactly 1 bin — so a pair can only
    meet in the point's bin and needs no post-dedup. The join becomes a
    plain hash equi-join on (user_id, bin): shuffles partition on a
    composite key with bounded per-key cardinality instead of a per-user
    theta join whose hot user goes quadratic. This is the shape that
    survives 100 TB — 2× the interval rows through an exchange, zero
    nested-loop tasks (plan pinned equi-hash in tests/test_plans.py). All
    time math in integer µs (`unix_micros` / DuckDB `epoch_us`) — no
    float time, no timezone."""
    ev = load_table(spark, "events", sf_dir)
    v = (ev.where(F.col("event_type") == "view")
         .select(F.col("event_id").alias("view_event_id"), "user_id",
                 F.unix_micros("ts").alias("v_us")))
    p = (ev.where(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("p_id"),
                 F.col("user_id").alias("p_user"),
                 F.unix_micros("ts").alias("p_us")))
    vb = v.withColumn("bin", F.explode(F.sequence(
        F.expr(f"v_us DIV {_BINNED_W_US}"),
        F.expr(f"v_us DIV {_BINNED_W_US}") + 1)))
    pb = p.withColumn("bin", F.expr(f"p_us DIV {_BINNED_W_US}"))
    return (
        vb.join(pb, (vb.user_id == pb.p_user) & (vb.bin == pb.bin))
        .where((F.col("p_us") > F.col("v_us"))
               & (F.col("p_us") <= F.col("v_us") + _BINNED_W_US))
        .groupBy("view_event_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"),
             F.min("p_id").alias("first_purchase_id"))
    )


_NEAREST_TOL_US = 15 * 60 * 1_000_000  # ±15 min, integer microseconds

_ASOF_NEAREST_ORACLE = f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
), c AS (
  SELECT purchase_id, p.user_id, purchase_ts, view_id, view_ts,
         abs(epoch_us(view_ts) - epoch_us(purchase_ts)) AS adiff_us
  FROM p JOIN v ON p.user_id = v.user_id
   AND abs(epoch_us(view_ts) - epoch_us(purchase_ts)) <= {_NEAREST_TOL_US}
)
SELECT purchase_id, user_id, purchase_ts, view_id, view_ts, adiff_us
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY purchase_id
                               ORDER BY adiff_us, view_ts, view_id) AS rn
  FROM c
) WHERE rn = 1
"""


@register("join_asof_nearest_tolerance", oracle=_ASOF_NEAREST_ORACLE)
def join_asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction with a tolerance: each purchase
    matched to the closest view within ±15 min — before OR after — the
    pandas merge_asof(direction='nearest') semantics that the
    backward-only window formulation (join_asof_event_order) cannot
    express, because 'nearest' needs candidates from the future of the
    probe row. Ties (equidistant before/after) pinned earlier-view-first,
    then view_id.

    Scale shape: join_interval_binned's trick, symmetric — ±tolerance
    spans at most 3 tolerance-width bins, so the purchase side explodes
    to 3 bin rows (each view keeps its 1 bin → every candidate pair meets
    exactly once, no post-dedup) and the join is a plain hash equi-join
    on (user_id, bin). The per-purchase winner is then ONE map-side-
    combinable min_by on the composite (adiff, view_ts, view_id) order —
    no window sort over the candidate set. All time math in integer µs;
    the oracle's independent ROW_NUMBER formulation cross-checks the
    argmin."""
    ev = load_table(spark, "events", sf_dir)
    v = (ev.where(F.col("event_type") == "view")
         .select(F.col("event_id").alias("view_id"),
                 F.col("user_id").alias("v_user"),
                 F.col("ts").alias("view_ts"),
                 F.unix_micros("ts").alias("v_us")))
    p = (ev.where(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.col("ts").alias("purchase_ts"),
                 F.unix_micros("ts").alias("p_us")))
    vb = v.withColumn("bin", F.expr(f"v_us DIV {_NEAREST_TOL_US}"))
    pb = p.withColumn("bin", F.explode(F.sequence(
        F.expr(f"p_us DIV {_NEAREST_TOL_US}") - 1,
        F.expr(f"p_us DIV {_NEAREST_TOL_US}") + 1)))
    adiff = F.abs(F.col("v_us") - F.col("p_us"))
    cand = (pb.join(vb, (pb.user_id == vb.v_user) & (pb.bin == vb.bin))
            .where(adiff <= _NEAREST_TOL_US)
            .select("purchase_id", "user_id", "purchase_ts",
                    adiff.alias("adiff_us"), "view_id", "view_ts"))
    best = (cand.groupBy("purchase_id", "user_id", "purchase_ts")
            .agg(F.min_by(F.struct("view_id", "view_ts", "adiff_us"),
                          F.struct("adiff_us", "view_ts", "view_id"))
                 .alias("m")))
    return best.select(
        "purchase_id", "user_id", "purchase_ts",
        F.col("m.view_id").alias("view_id"),
        F.col("m.view_ts").alias("view_ts"),
        F.col("m.adiff_us").cast("bigint").alias("adiff_us"))


_ASOF_FWD_ORACLE = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id AS click_id, c.user_id,
       c.ts AS click_ts, p.event_id AS purchase_id, p.ts AS purchase_ts
FROM clicks c
JOIN purchases p
  ON p.user_id = c.user_id
 AND p.ts = (SELECT MIN(p2.ts) FROM purchases p2
             WHERE p2.user_id = c.user_id AND p2.ts > c.ts)
"""


@register("join_asof_forward", oracle=_ASOF_FWD_ORACLE)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click matched to the user's NEXT strictly-
    later purchase — conversion attribution, the mirror of
    `join_asof_event_order`'s backward enrichment (DuckDB's native ASOF
    only looks backward, so the oracle is a correlated-MIN formulation —
    a genuinely different shape). Same scalable union+window plan: one
    shuffle on user_id, a single per-user sort, `first(ignorenulls)` over
    the strictly-following frame — linear in events where a pair-join
    would be quadratic per user. (ts values are unique per user —
    verified — so no tie-break is needed.)"""
    ev = load_table(spark, "events", sf_dir)
    tagged = ev.where(F.col("event_type").isin("purchase", "click"))
    w = Window.partitionBy("user_id").orderBy("ts") \
        .rowsBetween(1, Window.unboundedFollowing)
    is_p = F.col("event_type") == "purchase"
    enriched = tagged.select(
        "event_id", "user_id", "ts", "event_type",
        F.first(F.when(is_p, F.col("event_id")), ignorenulls=True).over(w)
        .alias("purchase_id"),
        F.first(F.when(is_p, F.col("ts")), ignorenulls=True).over(w)
        .alias("purchase_ts"))
    return (enriched
            .where((F.col("event_type") == "click")
                   & F.col("purchase_id").isNotNull())
            .select(F.col("event_id").alias("click_id"), "user_id",
                    F.col("ts").alias("click_ts"), "purchase_id",
                    "purchase_ts"))


# ---------------------------------------------------------------------------
# fuzzy entity-resolution join via deletion-neighborhood blocking
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH k AS (
  SELECT c_custkey, c_name,
         unnest(range(1, len(c_name) + 1)) AS i
  FROM customer
), b AS (
  SELECT c_custkey, c_name, i,
         substring(c_name, 1, i - 1) || '#' || substring(c_name, i + 1)
           AS blk
  FROM k
)
SELECT DISTINCT a.c_name AS a_name, bb.c_name AS b_name
FROM b a JOIN b bb
  ON a.i = bb.i AND a.blk = bb.blk AND a.c_custkey < bb.c_custkey
WHERE levenshtein(a.c_name, bb.c_name) = 1
"""


@register("join_fuzzy_levenshtein_blocked", oracle=_FUZZY_ORACLE)
def join_fuzzy_levenshtein_blocked(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Fuzzy entity-resolution self-join: all customer-name pairs within
    ONE substitution, found WITHOUT the quadratic all-pairs scan.
    Blocking key = (position, name with that position masked): two
    equal-length names are within 1 substitution iff they share a
    masked key, so the candidate set is exactly the true-positive set
    plus nothing — an equi-join, verified by a levenshtein filter
    (which also keeps the contract honest if variable-length names
    appear; the deletion-neighborhood generalizes with per-length
    deletes).

    Scale shape: each name explodes into len(name) keys — a bounded
    ~18× blow-up — then TWO cost levers the naive self-join misses
    (together 2.8× on this box, 3.76 s → 1.36 s at sf0.1):

    1. **Corpus-adaptive position pruning.** A cheap 18-group aggregate
       counts distinct characters per position; positions where every
       name agrees (the constant ``Customer#00…`` prefix — most of the
       key space) can host no differing pair, and a pair differing at
       position p is discovered ONLY in p's block — so those positions'
       blocks are provably pair-free and are never generated.
    2. **Single-shuffle in-block pairing.** Instead of shuffling two
       copies of the exploded table into a self-join, group once on
       (i, blk), keep blocks with ≥2 members, and emit intra-block
       pairs with a bounded double-explode: every block holds at most
       |alphabet| names, so the blow-up is constant per block.

    Within a block the levenshtein check degenerates: sharing a masked
    key forces equal length and at most ONE differing position, so
    lev(a,b) ∈ {0,1} and lev==1 ⟺ a≠b — the `!=` below is exactly the
    oracle's levenshtein(a,b)=1 predicate, without the O(len²) DP scan
    over every candidate pair."""
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    k = c.select(
        "c_custkey", "c_name",
        F.posexplode(F.split(F.col("c_name"), "(?!^)")).alias("i0", "_ch"))
    varying = (k.groupBy("i0")
               .agg(F.count_distinct("_ch").alias("nd"))
               .where(F.col("nd") >= 2).select("i0"))
    kv = k.join(F.broadcast(varying), "i0")
    b = kv.select(
        "c_custkey", "c_name", (F.col("i0") + 1).alias("i"),
        F.concat(F.expr("substring(c_name, 1, i0)"), F.lit("#"),
                 F.expr("substring(c_name, i0 + 2)")).alias("blk"))
    grp = (b.groupBy("i", "blk")
           .agg(F.collect_list(F.struct("c_custkey", "c_name")).alias("ms"))
           .where(F.size("ms") >= 2))
    x = grp.select("ms", F.explode("ms").alias("x"))
    pairs = (x.select("x", F.explode("ms").alias("y"))
             .where(F.col("x.c_custkey") < F.col("y.c_custkey")))
    return (pairs.where(F.col("x.c_name") != F.col("y.c_name"))
            .select(F.col("x.c_name").alias("a_name"),
                    F.col("y.c_name").alias("b_name"))
            .distinct())


# ---------------------------------------------------------------------------
# existence-flag ("mark") join
# ---------------------------------------------------------------------------

_MARK_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment,
       EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         AS has_order,
       EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
               AND o.o_orderpriority = '1-URGENT') AS has_urgent_order
FROM customer c
"""


@register("join_mark_exists_flag", oracle=_MARK_ORACLE)
def join_mark_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a COLUMN ("mark join"): every customer survives, with
    boolean flags for "has any order" and "has an urgent order" —
    the segmentation shape (flag, don't filter) that join_semi/sub_exists
    cannot produce because they drop the non-matching rows. Optimizers
    with a native mark-join operator (DuckDB) decorrelate the SELECT-list
    EXISTS directly; Spark's equivalent plan is built explicitly here:
    aggregate the order side to ONE row per custkey carrying the flag
    partials (any urgent?), LEFT-join it, and read presence off the join
    match itself — same result, same single-shuffle cost, no correlated
    subquery left anywhere.

    Scale shape: the flag aggregate is map-side combinable (bool_or
    partials), collapses orders to customer grain BEFORE the join, and
    the join is key-partitioned on custkey — never a row explosion, and
    AQE may broadcast the collapsed side when small."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    flags = (o.groupBy(F.col("o_custkey").alias("c_custkey"))
             .agg(F.max(F.col("o_orderpriority") == "1-URGENT")
                  .alias("urgent_flag")))
    return (c.join(flags, "c_custkey", "left")
            .select("c_custkey", "c_mktsegment",
                    F.col("urgent_flag").isNotNull().alias("has_order"),
                    F.coalesce("urgent_flag", F.lit(False))
                    .alias("has_urgent_order")))


# ---------------------------------------------------------------------------
# spatial bin-and-verify neighbor self-join
# ---------------------------------------------------------------------------

_GEO_GRID = 1_000_000   # coordinate domain per axis
_GEO_R = 20_000         # neighbor radius == grid cell size
_GEO_R2 = _GEO_R * _GEO_R


def _geo_u32_sql(key: str, axis: str) -> str:
    return (f"CAST(concat('0x', substring(md5(concat(CAST({key} AS VARCHAR)"
            f", ':{axis}')), 1, 8)) AS BIGINT) % {_GEO_GRID}")


_GEO_NEIGHBOR_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey AS id,
         {_geo_u32_sql('c_custkey', 'x')} AS x,
         {_geo_u32_sql('c_custkey', 'y')} AS y
  FROM customer
)
SELECT a.id AS a, b.id AS b,
       CAST((a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
FROM pts a JOIN pts b ON a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_GEO_R2}
"""


def _geo_ring_pairs(spark: SparkSession, sf_dir: str, a: str,
                    b: str) -> tuple[DataFrame, DataFrame, Column]:
    """The md5-synthesized plane and its 3x3-ring candidates: (pts,
    cand, d2). pts is (id, x, y); cand pairs each probe point ``a`` (xa,
    ya), once per ring cell, with every build point ``b`` (xb, yb) in
    that cell; d2 is their exact integer squared distance."""
    c = load_table(spark, "customer", sf_dir)

    def u32(axis: str):
        return (F.conv(F.substring(F.md5(F.concat(
            F.col("c_custkey").cast("string"), F.lit(f":{axis}"))), 1, 8),
            16, 10).cast("bigint") % _GEO_GRID)

    pts = c.select(F.col("c_custkey").alias("id"),
                   u32("x").alias("x"), u32("y").alias("y"))
    build = pts.select(
        F.col("id").alias(b), F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.floor(F.col("x") / _GEO_R).alias("cx"),
        F.floor(F.col("y") / _GEO_R).alias("cy"))
    ring = F.array([F.lit(i) for i in (-1, 0, 1)])
    probe = (pts.select(F.col("id").alias(a), F.col("x").alias("xa"),
                        F.col("y").alias("ya"),
                        F.floor(F.col("x") / _GEO_R).alias("pcx"),
                        F.floor(F.col("y") / _GEO_R).alias("pcy"))
             .select("*", F.explode(ring).alias("dx"))
             .select("*", F.explode(ring).alias("dy"))
             .select(a, "xa", "ya",
                     (F.col("pcx") + F.col("dx")).alias("cx"),
                     (F.col("pcy") + F.col("dy")).alias("cy")))
    d2 = ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
          + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
    return pts, probe.join(build, ["cx", "cy"]), d2


@register("geo_grid_neighbor_join", oracle=_GEO_NEIGHBOR_ORACLE)
def geo_grid_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join via grid binning: every customer pair
    within Euclidean distance 20,000 on a synthetic 1M x 1M plane
    (coordinates drawn deterministically from md5(custkey) bits -- the
    bootstrap randomness recipe -- standing in for geocoded addresses).
    THE distributed spatial-join pattern: bin points into radius-sized
    grid cells, equi-join each point's 3x3 neighbor-cell ring against
    the cell-keyed build side, then verify exact INTEGER squared
    distance -- candidates drop from O(n^2) to density-bounded
    per-cell work, the same bin-and-verify discipline as
    join_interval_binned (time) re-applied to 2-D space. The oracle is
    the honest quadratic self-join; the engine never builds it.

    Determinism: coordinates, cells and squared distances are all exact
    integers; no floats exist anywhere in the op.

    Scale shape: one exchange keys the build side by cell; the probe
    side map-side explodes to its 9 neighbor cells (x9 rows, no
    shuffle amplification beyond the constant); per-cell pair work is
    bounded by local density, not corpus size -- uniform md5 placement
    means NO hot cells, and a real skewed geography would reuse the
    hot-bucket cap from the LSH path. Each qualifying pair matches in
    exactly ONE (probe-ring, build-cell) combination, so no dedup pass
    is needed."""
    _, cand, d2 = _geo_ring_pairs(spark, sf_dir, "a", "b")
    return (cand
            .where((F.col("a") < F.col("b")) & (d2 <= F.lit(_GEO_R2)))
            .select("a", "b", d2.cast("bigint").alias("dist_sq")))


_GEO_NN_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey AS id,
         {_geo_u32_sql('c_custkey', 'x')} AS x,
         {_geo_u32_sql('c_custkey', 'y')} AS y
  FROM customer
), cand AS (
  SELECT a.id AS id, b.id AS nb,
         CAST((a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
  FROM pts a JOIN pts b ON a.id <> b.id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_GEO_R2}
), best AS (
  SELECT id, nb, d2,
         row_number() OVER (PARTITION BY id ORDER BY d2, nb) AS rk
  FROM cand
)
SELECT p.id, b.nb AS nn_id, b.d2 AS nn_dist_sq
FROM pts p LEFT JOIN best b ON p.id = b.id AND b.rk = 1
"""


@register("geo_knn_within_radius", oracle=_GEO_NN_ORACLE)
def geo_knn_within_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point nearest neighbor within the bounded radius, over the
    same md5-synthesized plane as geo_grid_neighbor_join -- the
    store-to-nearest-warehouse / user-to-nearest-POI assignment query.
    The grid contract makes the bound honest: a neighbor within r is
    ALWAYS found by the 3x3 ring (cells are r-sized), and a point whose
    true nearest neighbor lies beyond r reports NULL by design -- the
    documented bounded-radius NN semantics (expanding-ring search is
    the swap when unbounded NN is required). Argmin is a conditional
    MIN over an exact integer (d2, neighbor-id) struct -- deterministic
    tie-break, no floats.

    Scale shape: identical to the neighbor join (one cell-keyed
    exchange, x9 map-side ring explode, density-bounded per-cell work)
    plus one combinable per-point MIN-struct fold and a final
    point-keyed left join to surface the NULL rows."""
    pts, cand, d2 = _geo_ring_pairs(spark, sf_dir, "pa", "nb")
    best = (cand
            .where((F.col("pa") != F.col("nb")) & (d2 <= F.lit(_GEO_R2)))
            .select(F.col("pa").alias("bid"),
                    F.struct(d2.cast("bigint").alias("d2"),
                             F.col("nb")).alias("s"))
            .groupBy("bid").agg(F.min("s").alias("s")))
    return (pts.join(best, pts.id == F.col("bid"), "left")
            .select("id", F.col("s.nb").alias("nn_id"),
                    F.col("s.d2").alias("nn_dist_sq")))


_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS totalprice
FROM {customer} c,
LATERAL (SELECT o_orderkey, o_totalprice FROM {orders} o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_custkey <= 300
"""


@register("join_lateral_topn",
          oracle=_LATERAL_SQL.format(orders="orders", customer="customer"))
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL subquery (correlated derived table): top-2 orders PER
    customer written the way an analyst writes it — identical SQL text
    on both engines. The tie on o_totalprice is pinned by o_orderkey in
    the lateral ORDER BY, making LIMIT deterministic. Catalyst rewrites
    the lateral into the same window/topk-per-group machinery as
    win_topk_per_group (DomainJoin → rank filter), so the declarative
    per-row subquery costs one partitioned window at scale, not a
    per-customer re-execution."""
    return spark.sql(_LATERAL_SQL, orders=load_table(spark, "orders", sf_dir),
                     customer=load_table(spark, "customer", sf_dir))


_SCD2_PIT_ORACLE = """
WITH feed AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
), chg AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey FROM feed
  WHERE prev IS NULL OR prev <> o_orderpriority
), dim AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         o_orderdate AS valid_from,
         LEAD(o_orderdate) OVER w AS valid_to,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
  FROM chg
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT f.o_orderkey AS fact_key, f.o_custkey AS custkey,
       CAST(f.o_orderdate AS VARCHAR) AS fact_date,
       d.version, d.priority AS dim_priority,
       (f.o_orderpriority = d.priority) AS priority_matches
FROM orders f JOIN dim d
  ON f.o_custkey = d.custkey
 AND f.o_orderdate >= d.valid_from
 AND (d.valid_to IS NULL OR f.o_orderdate < d.valid_to)
"""


@register("join_scd2_point_in_time", oracle=_SCD2_PIT_ORACLE)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — the query SCD2 exists FOR: each
    fact row joined to the dimension version that was valid at the fact's
    own date (valid_from <= t < valid_to, open current range matches
    everything after valid_from). Half-open ranges tile the timeline, so
    every fact matches EXACTLY one version — no post-dedup, and the
    `priority_matches` flag surfaces the one honest subtlety (same-day
    flip-flops: a fact can predate its date's final version in the
    (date, orderkey) feed order).

    Scale shape: the EQUI key (custkey) carries the join — one shuffle,
    hash or sort-merge — and the range predicate filters inside each
    key's version list (bounded by versions-per-key, typically a
    handful); never a time-theta join across keys. Shares scd2_collapse
    with the dimension build and the streaming incremental merge, so
    serving lookups and dimension maintenance cannot drift."""
    o = load_table(spark, "orders", sf_dir)
    feed = o.select("o_custkey", "o_orderpriority", "o_orderdate",
                    "o_orderkey")
    dim = (scd2_collapse(feed, key="o_custkey", attr="o_orderpriority",
                         ord_cols=["o_orderdate", "o_orderkey"],
                         valid_col="o_orderdate")
           .select(F.col("o_custkey").alias("custkey"),
                   F.col("o_orderpriority").alias("dim_priority"),
                   F.col("o_orderdate").alias("valid_from"),
                   "valid_to", "version"))
    facts = o.select(F.col("o_orderkey").alias("fact_key"),
                     F.col("o_custkey").alias("custkey"),
                     F.col("o_orderdate").alias("fact_date"),
                     F.col("o_orderpriority").alias("fact_priority"))
    return (facts.join(
                dim,
                (facts.custkey == dim.custkey)
                & (F.col("fact_date") >= F.col("valid_from"))
                & (F.col("valid_to").isNull()
                   | (F.col("fact_date") < F.col("valid_to"))))
            .select("fact_key", facts.custkey.alias("custkey"),
                    F.col("fact_date").cast("string").alias("fact_date"),
                    "version", "dim_priority",
                    (F.col("fact_priority") == F.col("dim_priority"))
                    .alias("priority_matches")))
