"""Window-function operators (SURVEY.md §2.5).

Each window spec = one shuffle on the partition key + one sort within
partitions. Specs are chosen so every query is a single window exchange;
running sums use decimal space (DuckDB evaluates windowed SUM with a
segment tree, i.e. a different summation order — doubles would drift).
All orderings include a unique tie-break column so ranks are total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.bucketed import bucketed_order
from lambdatotheslaughter_spark.determinism import DEC, iround, round_cents
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table


@register("win_topk_per_group", oracle="""
SELECT * FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rn <= 3
""")
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment: row_number + filter. At scale this
    beats global sort — each group's heap lives inside its partition."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice",
                F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
    )


@register("win_rank_dense_ntile", oracle="""
SELECT s_suppkey, s_acctbal,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       NTILE(4) OVER w AS quartile
FROM supplier
WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
""")
def win_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over a total order (unique key tie-break
    keeps ntile bucket boundaries deterministic)."""
    s = load_table(spark, "supplier", sf_dir)
    w = Window.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return s.select(
        "s_suppkey", "s_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register("win_lag_lead", oracle="""
SELECT event_id, user_id, ts,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
       LEAD(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
""")
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (lag) and next event type (lead). Gap in
    integer microseconds — exact, no float drift."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    ts_us = F.unix_micros("ts")
    return ev.select(
        "event_id", "user_id", "ts",
        (ts_us - F.lag(ts_us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register("win_running_frame", oracle=f"""
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_spend,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
            OVER (PARTITION BY o_custkey
                  ORDER BY date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS trailing_7d_spend
FROM orders
""")
def win_running_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer (ROWS frame) + 7-day trailing sum
    (RANGE frame over a day-number order key). Decimal space: DuckDB's
    segment-tree window sum would otherwise differ in the last float bits."""
    o = load_table(spark, "orders", sf_dir)
    day_num = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    w_rows = Window.partitionBy("o_custkey") \
        .orderBy("o_orderdate", "o_orderkey") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_range = Window.partitionBy("o_custkey").orderBy(day_num.cast("long")) \
        .rangeBetween(-6, Window.currentRow)
    price_dec = F.col("o_totalprice").cast(DEC)
    return o.select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.sum(price_dec).over(w_rows).cast("double").alias("running_spend"),
        F.sum(price_dec).over(w_range).cast("double").alias("trailing_7d_spend"),
    )


@register("win_first_last", oracle="""
SELECT DISTINCT user_id, date_trunc('day', ts) AS day,
       first_value(event_type) OVER w AS first_type,
       last_value(event_type) OVER w AS last_type
FROM events
WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event type per user-day via full-frame window + distinct.
    (ts is unique per user, so first/last are well-defined.)"""
    ev = load_table(spark, "events", sf_dir)
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy("user_id", day).orderBy("ts") \
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id", day.alias("day"),
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
    ).distinct()


@register("win_percent_rank_cume", oracle="""
SELECT s_suppkey, s_acctbal,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM supplier
WINDOW w AS (ORDER BY s_acctbal, s_suppkey)
""")
def win_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist over a total order: pure integer-ratio
    doubles, bit-identical unrounded."""
    s = load_table(spark, "supplier", sf_dir)
    w = Window.orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey", "s_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


_RANGE_WIN_ORACLE = """
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_trailing_1h,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS BIGINT)
         AS cents_trailing_1h
FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


@register("win_range_interval", oracle=_RANGE_WIN_ORACLE)
def win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per user, count + exact-cents sum of events
    in the trailing hour — a VALUE-based frame (rows whose timestamp is
    within 3600 s), not a row-count frame, so ties share identical frames
    in both engines by definition. Ordering key is epoch seconds (cast
    truncates identically in both). Scale shape: one shuffle on user_id;
    frames never materialize — Spark keeps a sliding aggregate as it walks
    each partition in ts order."""
    ev = load_table(spark, "events", sf_dir)
    sec = F.col("ts").cast("long")
    w = (Window.partitionBy("user_id").orderBy(sec)
         .rangeBetween(-3600, Window.currentRow))
    cents = iround(F.col("value") * 100)
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.sum(cents).over(w).cast("bigint").alias("cents_trailing_1h"),
    )


_STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
           AS dn
  FROM events
), grp AS (
  SELECT user_id, dn,
         dn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dn) AS g
  FROM days
), runs AS (
  SELECT user_id, g, COUNT(*) AS run_len, MIN(dn) AS run_start
  FROM grp GROUP BY user_id, g
)
SELECT user_id,
       MAX(run_len) AS longest_streak,
       CAST(MIN(CASE WHEN run_len = ms THEN run_start END) AS BIGINT)
         AS streak_start_dn,
       COUNT(*) AS n_runs
FROM (SELECT *, MAX(run_len) OVER (PARTITION BY user_id) AS ms FROM runs)
GROUP BY user_id
"""


@register("win_streaks_islands", oracle=_STREAK_ORACLE)
def win_streaks_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-active-day streak per user via
    the classic dn − row_number() grouping trick (consecutive days share
    the difference). Earliest start pins the tie when two streaks share
    the max length. Scale shape: everything partitions by user_id — one
    shuffle, bounded per-user state, no cross-user dependency."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    days = (ev.select("user_id",
                      F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
                      .cast("bigint").alias("dn"))
            .distinct())
    g = F.col("dn") - F.row_number().over(
        Window.partitionBy("user_id").orderBy("dn"))
    runs = (days.withColumn("g", g)
            .groupBy("user_id", "g")
            .agg(F.count(F.lit(1)).alias("run_len"),
                 F.min("dn").alias("run_start")))
    ms = F.max("run_len").over(Window.partitionBy("user_id"))
    return (runs.withColumn("ms", ms)
            .groupBy("user_id")
            .agg(F.max("run_len").alias("longest_streak"),
                 F.min(F.when(F.col("run_len") == F.col("ms"),
                              F.col("run_start"))).cast("bigint")
                  .alias("streak_start_dn"),
                 F.count(F.lit(1)).alias("n_runs")))


_MOVMED_ORACLE = """
SELECT user_id, event_id,
       round(quantile_cont(value, 0.5) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
FROM events
"""


@register("win_moving_median", oracle=_MOVMED_ORACLE)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-row moving MEDIAN per user — robust smoothing where
    ts_moving_avg's mean is outlier-hostage. Spark's `median()` refuses a
    window frame, but `percentile(x, 0.5)` over a ROWS frame is the same
    interpolated statistic and IS frameable. The frame is anchored on a
    TOTAL order (ts, event_id — unique per user), so both engines see
    identical 5-row windows; rounded to 6 dp because the two engines'
    linear interpolation can differ in the last ulp (same discipline as
    agg_percentiles). Scale: one shuffle on user_id, per-row O(frame)
    work — frame-bounded order statistics, not a per-group sort."""
    ev = load_table(spark, "events", sf_dir)
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros("ts"), "event_id")
         .rowsBetween(-4, 0))
    return ev.select(
        "user_id", "event_id",
        F.round(F.percentile("value", F.lit(0.5)).over(w), 6).alias("med5"))


_NTH_ORACLE = """
SELECT c_mktsegment,
       o_orderkey,
       nth_value(o_orderkey, 3) OVER w AS third_orderkey,
       first_value(o_orderkey) OVER w AS first_orderkey
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey <= 2000
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("win_nth_value", oracle=_NTH_ORACLE)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value / first_value over a running frame — the remaining
    window-navigation surface beyond win_first_last's lead/lag/last:
    'the 3rd-biggest order seen so far per segment'. NULL until the
    frame holds 3 rows (both engines agree on the NULL prefix by
    definition). Total order (price desc, orderkey) pins ties; the
    frame is the default running frame so nth_value scans no further
    than the current row. One shuffle on the window partition key."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") <= 2000)
    c = load_table(spark, "customer", sf_dir)
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return j.select(
        "c_mktsegment", "o_orderkey",
        F.nth_value("o_orderkey", 3).over(w).alias("third_orderkey"),
        F.first("o_orderkey").over(w).alias("first_orderkey"),
    )


_PCT_TOTAL_ORACLE = """
WITH monthly AS (
  SELECT n_name, date_trunc('month', o_orderdate) AS month,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, date_trunc('month', o_orderdate)
), tot AS (
  SELECT CAST(SUM(rev_cents) AS BIGINT) AS grand_cents FROM monthly
)
SELECT n_name, month, rev_cents,
       CAST(rev_cents AS DOUBLE)
         / CAST(SUM(rev_cents) OVER (PARTITION BY n_name) AS DOUBLE)
         AS share_of_nation,
       CAST(rev_cents AS DOUBLE) / CAST(grand_cents AS DOUBLE)
         AS share_of_total
FROM monthly CROSS JOIN tot
"""


@register("win_pct_of_total", oracle=_PCT_TOTAL_ORACLE)
def win_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation-month's revenue as a share of its
    nation's total AND of the grand total. The nation share is a
    partitioned window sum; the grand total is a 1-row aggregate
    crossJoined in — NOT an empty-partition window, which would
    single-task the table (the same discipline as llm_vocab_coverage).
    Integer cents throughout; each share is one int→double division.

    Scale shape: one (nation, month) rollup shuffle, a nation-partitioned
    window over the calendar-bounded result, and a broadcast-sized scalar."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.sum(iround(F.col("o_totalprice") * 100))
             .cast("bigint").alias("rev_cents"))
        .localCheckpoint(eager=False))  # window branch + grand total share it
    tot = monthly.agg(F.sum("rev_cents").cast("bigint").alias("grand_cents"))
    w = Window.partitionBy("n_name")
    return (monthly.crossJoin(tot)
            .select("n_name", "month", "rev_cents",
                    (F.col("rev_cents").cast("double") /
                     F.sum("rev_cents").over(w).cast("double"))
                    .alias("share_of_nation"),
                    (F.col("rev_cents").cast("double") /
                     F.col("grand_cents").cast("double"))
                    .alias("share_of_total")))


# ---------------------------------------------------------------------------
# numeric RANGE window frame (round 5)
# ---------------------------------------------------------------------------

_RANGE_NUM_ORACLE = """
WITH c AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_orderpriority, cents,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_within_100,
       CAST(SUM(cents) OVER w AS BIGINT) AS cents_within_100
FROM c
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents
             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
"""


@register("win_range_between_numeric", oracle=_RANGE_NUM_ORACLE)
def win_range_between_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based RANGE frame on a NUMERIC key (win_range_interval's
    sibling is time-based): per priority class, how many orders — and
    how much money — sit within $100 BELOW each order's price. RANGE
    frames are tie-safe by definition (peers enter the frame together,
    so no ORDER BY tie-break is needed — the property ROWS frames lack);
    integer cents keep the running sums hash-exact.

    Scale shape: one exchange on the partition key, one sort per
    partition, frame maintained by two pointers — same cost class as
    any windowed aggregate."""
    o = load_table(spark, "orders", sf_dir)
    c = o.select("o_orderkey", "o_orderpriority",
                 iround(F.col("o_totalprice") * 100).alias("cents"))
    w = (Window.partitionBy("o_orderpriority").orderBy("cents")
         .rangeBetween(-10000, 0))
    return c.select(
        "o_orderkey", "o_orderpriority", "cents",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_within_100"),
        F.sum("cents").over(w).cast("bigint").alias("cents_within_100"))


# ---------------------------------------------------------------------------
# top-k WITH TIES (round 5, batch 11)
# ---------------------------------------------------------------------------

_TOPK_TIES_ORACLE = """
SELECT o_orderpriority, o_orderkey, band, rnk FROM (
  SELECT o_orderpriority, o_orderkey,
         CAST(floor(o_totalprice / 1000) AS BIGINT) AS band,
         CAST(rank() OVER (PARTITION BY o_orderpriority
                           ORDER BY CAST(floor(o_totalprice / 1000) AS BIGINT)
                                    DESC) AS BIGINT) AS rnk
  FROM orders)
WHERE rnk <= 3
"""


@register("win_topk_with_ties", oracle=_TOPK_TIES_ORACLE)
def win_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group WITH TIES (rank() <= k) — the fetch-first-WITH-TIES
    semantic: every row tying the k-th value survives, so group sizes
    exceed k on tie-heavy keys (this banded price key yields up to 7
    rows for k=3 at sf0.01). The deliberate contrast is
    win_topk_per_group's row_number(), which cuts ties arbitrarily
    unless the order is total — rank() is what a correct leaderboard /
    price-band report needs when the ranking key is coarse.

    Scale shape: identical single exchange + sort to the row_number
    variant; Spark's WindowGroupLimit pushdown applies to rank() too,
    so each task keeps only its local rank<=k heads before the
    exchange."""
    o = load_table(spark, "orders", sf_dir)
    band = F.floor(F.col("o_totalprice") / 1000).cast("bigint")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("band").desc())
    return (o.select("o_orderpriority", "o_orderkey", band.alias("band"))
            .withColumn("rnk", F.rank().over(w).cast("bigint"))
            .where(F.col("rnk") <= 3)
            .select("o_orderpriority", "o_orderkey", "band", "rnk"))


# ---------------------------------------------------------------------------
# lag IGNORE NULLS (round 5, batch 17)
# ---------------------------------------------------------------------------

_LAG_IN_ORACLE = """
SELECT event_id, user_id,
  lag(nv, 1 IGNORE NULLS) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev_big
FROM (SELECT event_id, user_id, ts,
             CASE WHEN value > 500
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END AS nv
      FROM events WHERE user_id < 50)
"""


@register("win_lag_ignore_nulls", oracle=_LAG_IN_ORACLE)
def win_lag_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`lag(...) IGNORE NULLS` — navigation that skips over null rows:
    "the previous LARGE reading", not "the previous row's (possibly
    null) value". This is the sparse-signal companion to
    ts_forward_fill's last(ignorenulls): LOCF carries the latest value
    forward, lag-ignore-nulls REFERENCES the previous occurrence
    without filling — the distinction matters for change-detection
    (compare each large event to the prior large event, however long
    ago). The two engines spell the modifier differently (Spark:
    `IGNORE NULLS` after the call; DuckDB: inside the argument list) —
    parity pins the shared semantics under both spellings.

    Scale shape: one (user, time) exchange, O(1) state per row (the
    window operator tracks one last-non-null slot)."""
    return spark.sql("""
        SELECT event_id, user_id,
          lag(nv, 1) IGNORE NULLS OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev_big
        FROM (SELECT event_id, user_id, ts,
                     CASE WHEN value > 500
                          THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                     END AS nv
              FROM {events} WHERE user_id < 50)
    """, events=load_table(spark, "events", sf_dir))


# ---------------------------------------------------------------------------
# percent_rank / cume_dist (round 6)
# ---------------------------------------------------------------------------

_PCTRANK_ORACLE = """
WITH c AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_orderpriority, cents,
       percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY cents)
         AS pct_rank,
       cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY cents)
         AS cume_dist
FROM c
"""


@register("win_percent_rank_cume_dist", oracle=_PCTRANK_ORACLE)
def win_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank() and cume_dist() of each order's total within its
    priority class — the two RELATIVE-position window functions
    (complementing win_rank_dense_ntile's ordinal ones): "this order is
    in the 93rd percentile of its class" is how SLA and anomaly
    thresholds get stated. Both are exact rational functions of integer
    ranks — (rank−1)/(n−1) and peers_below_or_equal/n — and both
    engines define them identically over ties (tied rows share rank for
    percent_rank and share the HIGHEST cumulative count for cume_dist),
    so ordering by the exact cent amount alone is deterministic: one
    correctly-rounded double division per value, no rounding discipline
    needed.

    Scale shape: one window shuffle keyed by priority class; both
    functions share the single sort — no second exchange."""
    o = load_table(spark, "orders", sf_dir)
    cents = round_cents("o_totalprice")
    w = Window.partitionBy("o_orderpriority").orderBy("cents")
    return (o.select("o_orderkey", "o_orderpriority", cents.alias("cents"))
            .select("o_orderkey", "o_orderpriority", "cents",
                    F.percent_rank().over(w).alias("pct_rank"),
                    F.cume_dist().over(w).alias("cume_dist")))


# ---------------------------------------------------------------------------
# cumulative sum with reset-on-flag (round 6)
# ---------------------------------------------------------------------------

_RESET_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg_no
  FROM events
)
SELECT user_id, event_id, cents, seg_no,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 0 ELSE cents END)
            OVER (PARTITION BY user_id, seg_no ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents
FROM seq
"""


@register("win_cumsum_reset_on_flag", oracle=_RESET_ORACLE)
def win_cumsum_reset_on_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total that RESETS whenever a flag event occurs (here: an
    'error' zeroes the user's accumulator) — the counter/balance/streak
    pattern plain window frames cannot express because the reset points
    are DATA-dependent. Solved with the two-window segment trick (the
    win_streaks_islands discipline): the cumulative count of reset
    events IS the segment id, and the running sum re-windows on
    (user, segment). The reset row itself restarts at 0 (its cents are
    excluded via the CASE), matching how a real balance reset posts.
    All integer cents — no float anywhere.

    Scale shape: both windows share the one (user, time) sort exchange
    (same partition key, same order); everything else is map-side."""
    ev = load_table(spark, "events", sf_dir)
    cents = round_cents("value")
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = ev.select(
        "user_id", "event_id", "ts", "event_type", cents.alias("cents"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w1).cast("bigint").alias("seg_no"))
    w2 = Window.partitionBy("user_id", "seg_no").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return seq.select(
        "user_id", "event_id", "cents", "seg_no",
        F.sum(F.when(F.col("event_type") == "error", 0)
              .otherwise(F.col("cents")))
        .over(w2).cast("bigint").alias("run_cents"))


# ---------------------------------------------------------------------------
# rolling regression slope (round 6)
# ---------------------------------------------------------------------------

_ROLL_SLOPE_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                        date_trunc('hour', ts)) AS BIGINT) AS h,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), m AS (
  SELECT event_type, h, cents,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(h) OVER w AS BIGINT) AS sx,
         CAST(SUM(cents) OVER w AS BIGINT) AS sy,
         CAST(SUM(h * cents) OVER w AS BIGINT) AS sxy,
         CAST(SUM(h * h) OVER w AS BIGINT) AS sxx
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT event_type, h, cents, n AS n_obs,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_hour
FROM m WHERE n >= 2
"""


@register("win_rolling_slope", oracle=_ROLL_SLOPE_ORACLE)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h least-squares slope of the hourly revenue series per
    type — the "rolling beta" every monitoring dashboard draws: is the
    last day trending up or down, per hour, with no global fit? All
    five frame moments (n, Σx, Σy, Σxy, Σx²) are exact BIGINT window
    sums over the SAME 24-row frame (one exchange, five shared
    aggregates); the numerator n·Σxy − Σx·Σy and denominator
    n·Σx² − (Σx)² ship as EXACT INTEGER columns, with the slope their
    single-division quotient — the oracle hash covers the integers, so
    the float column can never mask an arithmetic drift.

    Scale shape: calendar-bounded hourly pre-agg; one frame window per
    type; everything combinable before it."""
    # a module-level import would register the timeseries keys ahead of
    # this module's, reordering the registry
    from lambdatotheslaughter_spark.operators.timeseries import hourly_cents

    hourly = (hourly_cents(load_table(spark, "events", sf_dir))
              .select("event_type",
                      (F.unix_timestamp("hr") / 3600).cast("bigint")
                      .alias("h"),
                      "cents"))
    w = Window.partitionBy("event_type").orderBy("h") \
        .rowsBetween(-23, Window.currentRow)
    m = hourly.select(
        "event_type", "h", "cents",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("h").over(w).cast("bigint").alias("sx"),
        F.sum("cents").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("h") * F.col("cents")).over(w).cast("bigint")
        .alias("sxy"),
        F.sum(F.col("h") * F.col("h")).over(w).cast("bigint").alias("sxx"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("bigint")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("bigint")
    return (m.where(F.col("n") >= 2)
            .select("event_type", "h", "cents",
                    F.col("n").alias("n_obs"),
                    num.alias("slope_num"), den.alias("slope_den"),
                    (num.cast("double") / den.cast("double"))
                    .alias("slope_cents_per_hour")))


# ---------------------------------------------------------------------------
# interval-union active time (round 6)
# ---------------------------------------------------------------------------

_IVU_WINDOW_US = 5 * 60 * 1_000_000  # each event opens a 5-minute window

_IVU_ORACLE = f"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts) + {_IVU_WINDOW_US} AS e
  FROM events
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -9223372036854775807)
              THEN 1 ELSE 0 END AS is_new
  FROM iv
), islands AS (
  SELECT user_id, s, e,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), merged AS (
  SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_active_spans,
       CAST(SUM(me - ms) // 1000000 AS BIGINT) AS active_seconds
FROM merged GROUP BY user_id
"""


@register("win_interval_union_length", oracle=_IVU_ORACLE)
def win_interval_union_length(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Interval-UNION active time per user: each event opens a 5-minute
    activity window; overlapping windows merge, and the answer is the
    union's total length plus the span count -- the active-minutes /
    uptime / billing-meter computation naive SUM(duration) double-counts
    (the win_streaks_islands gaps-and-islands trick lifted from integer
    sequences to real intervals: a window starts a new island iff its
    start exceeds the running MAX of prior ends, handling contained
    intervals that a lag-based check misses). All epoch-microsecond
    integers; seconds report by floor division.

    Scale shape: one user-keyed sort exchange serves the running-max
    flag AND the island cumsum (same-window trick); merge and rollup
    are combinable groupBys."""
    ev = load_table(spark, "events", sf_dir)
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select("user_id", s.alias("s"),
                   (s + F.lit(_IVU_WINDOW_US)).alias("e"))
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.select(
        "user_id", "s", "e",
        F.when(F.col("s") > F.coalesce(prev_max_e,
                                       F.lit(-9223372036854775807)),
               F.lit(1)).otherwise(F.lit(0)).alias("is_new"))
    islands = flagged.select(
        "user_id", "s", "e",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me"))
    return (merged.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_active_spans"),
                 F.floor(F.sum(F.col("me") - F.col("ms")) / 1000000)
                 .cast("bigint").alias("active_seconds")))


# ---------------------------------------------------------------------------
# maximum drawdown of the daily net series (round 6)
# ---------------------------------------------------------------------------

_MDD_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)
                  * CASE WHEN event_type = 'error' THEN -1 ELSE 1 END)
              AS BIGINT) AS net_cents
  FROM events WHERE event_type IN ('purchase', 'error')
  GROUP BY event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')
), series AS (
  SELECT day, CAST(SUM(net_cents) AS BIGINT) AS net_cents
  FROM daily GROUP BY day
), cum AS (
  SELECT day, net_cents,
         CAST(SUM(net_cents) OVER (ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS equity
  FROM series
), dd AS (
  SELECT day, equity,
         CAST(MAX(equity) OVER (ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS peak
  FROM cum
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(peak - equity) AS BIGINT) AS max_drawdown_cents,
       CAST(MIN(CASE WHEN peak - equity = (SELECT MAX(peak - equity)
                                           FROM dd) THEN day END)
            AS VARCHAR) AS trough_day
FROM dd
"""


@register("win_max_drawdown", oracle=_MDD_ORACLE)
def win_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative net series (purchases minus
    error-event penalties, the fixture's P&L stand-in): the largest
    peak-to-trough fall of the running total, plus its trough day --
    THE risk statistic equity curves are judged by, and a three-window
    classic (cumulative sum -> running max -> max gap) that
    mis-composes silently if any window frame is wrong. All exact
    integer cents over the calendar-bounded daily series; the trough
    day is the FIRST day attaining the max (deterministic tie-break);
    days project yyyy-MM-dd.

    Scale shape: one combinable daily fold; three windows over the
    ~30-row calendar series -- data-size-free past the first
    exchange."""
    ev = (load_table(spark, "events", sf_dir)
          .where(F.col("event_type").isin("purchase", "error")))
    cents = (round_cents("value")
             * F.when(F.col("event_type") == "error", F.lit(-1))
             .otherwise(F.lit(1)))
    series = (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
              .agg(F.sum(cents).cast("bigint").alias("net_cents")))
    wc = (Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = series.select(
        "day", F.sum("net_cents").over(wc).cast("bigint").alias("equity"))
    dd = cum.select(
        "day", "equity",
        F.max("equity").over(wc).cast("bigint").alias("peak"))
    mdd = dd.select("day", (F.col("peak") - F.col("equity")).alias("gap"))
    top = mdd.agg(F.max("gap").cast("bigint").alias("mx"))
    return (mdd.crossJoin(F.broadcast(top))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                 F.max("gap").cast("bigint").alias("max_drawdown_cents"),
                 F.min(F.when(F.col("gap") == F.col("mx"),
                              F.col("day"))).cast("string")
                 .alias("trough_day")))


# ---------------------------------------------------------------------------
# peer-group z-score benchmarking (round 6)
# ---------------------------------------------------------------------------

_PEER_Z_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
), seg AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s1,
         CAST(SUM(cents * cents) AS BIGINT) AS s2
  FROM c GROUP BY c_mktsegment
)
SELECT c.c_custkey, c.c_mktsegment,
       (CAST(c.cents AS DOUBLE)
        - CAST(seg.s1 AS DOUBLE) / CAST(seg.n AS DOUBLE))
       / sqrt((CAST(seg.s2 AS DOUBLE) / CAST(seg.n AS DOUBLE)
               - (CAST(seg.s1 AS DOUBLE) / CAST(seg.n AS DOUBLE))
                 * (CAST(seg.s1 AS DOUBLE) / CAST(seg.n AS DOUBLE)))
              * (CAST(seg.n AS DOUBLE) / (CAST(seg.n AS DOUBLE) - 1.0)))
         AS peer_z
FROM c JOIN seg ON c.c_mktsegment = seg.c_mktsegment
"""


@register("win_peer_group_zscore", oracle=_PEER_Z_ORACLE)
def win_peer_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peer-group z-score benchmarking: every customer's account
    balance standardized against their OWN market segment's mean and
    sample stddev -- the normalize-before-you-compare step behind every
    cross-segment league table (a raw balance means nothing until its
    peer distribution prices it). Segment moments are exact integer
    cent sums folded once; each row's z assembles through the standard
    identical tree -- the moments travel as a broadcast 5-row dim, NOT
    a per-row window (same values, one less sort).

    Scale shape: one combinable segment fold; broadcast join back;
    pure map-side z."""
    c = load_table(spark, "customer", sf_dir)
    cents = round_cents("c_acctbal")
    base = c.select("c_custkey", "c_mktsegment", cents.alias("cents"))
    seg = base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("s2"))
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    var = (F.col("s2").cast("double") / nd - mu * mu) \
        * (nd / (nd - F.lit(1.0)))
    return (base.join(F.broadcast(seg), "c_mktsegment")
            .select("c_custkey", "c_mktsegment",
                    ((F.col("cents").cast("double") - mu) / F.sqrt(var))
                    .alias("peer_z")))


# ---------------------------------------------------------------------------
# year-to-date running total (round 6)
# ---------------------------------------------------------------------------

_YTD_ORACLE = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
)
SELECT yr, mo, rev AS rev_cents,
       CAST(SUM(rev) OVER (PARTITION BY yr ORDER BY mo
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS ytd_cents
FROM monthly
"""


@register("win_ytd_running_total", oracle=_YTD_ORACLE)
def win_ytd_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-to-date running revenue per (year, month) -- the fiscal
    dashboard staple whose window frame (partition by YEAR, order by
    month, unbounded preceding) resets exactly at the year boundary;
    pairs with ts_yoy_growth the way every finance view pairs YTD with
    YoY. Exact cents throughout.

    Scale shape: (year, month) fold to ~84 rows; year-keyed running
    windows over that tiny grid."""
    o = load_table(spark, "orders", sf_dir)
    cents = round_cents("o_totalprice")
    monthly = (o.groupBy(F.year("o_orderdate").cast("bigint").alias("yr"),
                         F.month("o_orderdate").cast("bigint").alias("mo"))
               .agg(F.sum(cents).cast("bigint").alias("rev")))
    w = (Window.partitionBy("yr").orderBy("mo")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return monthly.select(
        "yr", "mo", F.col("rev").alias("rev_cents"),
        F.sum("rev").over(w).cast("bigint").alias("ytd_cents"))


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) operator (round 6)
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH pts AS (
  SELECT c.c_custkey,
         CAST(round(c.c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, c.c_acctbal
), per_bal AS (
  SELECT bal_cents, MAX(n_orders) AS best FROM pts GROUP BY bal_cents
), pb AS (
  -- per-balance keys are UNIQUE here, so the ROWS frame is well-defined
  SELECT bal_cents, best,
         MAX(best) OVER (ORDER BY bal_cents DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS best_above
  FROM per_bal
), champs AS (
  -- ALL customers tying the per-balance max are mutually non-dominated
  SELECT p.c_custkey, p.bal_cents, p.n_orders
  FROM pts p JOIN per_bal b
    ON p.bal_cents = b.bal_cents AND p.n_orders = b.best
)
SELECT c.c_custkey, c.bal_cents, c.n_orders
FROM champs c JOIN pb ON c.bal_cents = pb.bal_cents
WHERE pb.best_above IS NULL OR c.n_orders > pb.best_above
"""


@register("win_skyline_2d", oracle=_SKYLINE_ORACLE)
def win_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKYLINE operator (Borzsony/Kossmann/Stocker's classic), 2-D
    maximization form: customers not DOMINATED on (account balance,
    order count) -- no other customer is at least as good on both and
    strictly better on one; the multi-criteria shortlist behind
    best-tradeoff queries that no single score can express. Tie
    semantics follow the dominance definition exactly (the r6 ADVICE
    fix): customers with IDENTICAL (balance, orders) are mutually
    non-dominated, so ALL of them are kept — champions are "everyone
    tying the per-balance max", not one row_number survivor. A point
    survives iff its orders beat the best over STRICTLY higher
    balances. All exact integers; the dominance test is two
    comparisons.

    Scale shape: customer-grain fold; a per-balance max fold + equi
    join picks champions (no window at all), and the running max over
    strictly-higher balances is the two-pass bucketed prefix-max
    (bucketed.py — the distinct-balance table never collapses to one
    partition, the r7 entity-grain sweep)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir) \
        .select("o_custkey", "o_orderkey")
    bal = round_cents("c_acctbal")
    pts = (c.join(o, c.c_custkey == o.o_custkey, "left")
           .groupBy("c_custkey", bal.alias("bal_cents"))
           .agg(F.count("o_orderkey").cast("bigint").alias("n_orders")))
    per_bal = pts.groupBy("bal_cents").agg(
        F.max("n_orders").alias("best"))
    pb = bucketed_order(per_bal, "bal_cents", descending=True,
                        prefix_max={"best_above": "best"})
    champs = (pts.alias("p")
              .join(per_bal.alias("b"),
                    (F.col("p.bal_cents") == F.col("b.bal_cents"))
                    & (F.col("p.n_orders") == F.col("b.best")))
              .select("p.c_custkey",
                      F.col("p.bal_cents").alias("bal_cents"),
                      "p.n_orders"))
    sky = champs.join(pb.select("bal_cents", "best_above"), "bal_cents")
    return (sky.where(F.col("best_above").isNull()
                      | (F.col("n_orders") > F.col("best_above")))
            .select("c_custkey", "bal_cents", "n_orders"))
