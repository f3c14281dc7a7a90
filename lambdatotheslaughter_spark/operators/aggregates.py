"""Aggregation operators (SURVEY.md §2.4).

All float aggregates go through the decimal-space helpers in
:mod:`..determinism` so results are bit-identical regardless of partition
count / aggregation order — the property the DuckDB oracle hash requires and
the property a 1000-executor run needs for reproducibility.

Physical shape: every groupBy here compiles to partial (map-side) + final
hash aggregation with whole-stage codegen; no extra shuffles beyond the one
exchange on the grouping keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.bucketed import bucketed_order
from lambdatotheslaughter_spark.determinism import (
    central_moments, iround,
    cavg, charge_csum, csum, davg, disc_price_csum, dsum, estimate_rows,
    money_aggs, oracle_cavg, oracle_charge_csum, oracle_csum, oracle_davg,
    oracle_disc_price_csum, oracle_dsum, round_cents)
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table

_Q1_CUTOFF = "2001-09-02"

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {oracle_csum('l_quantity')} AS sum_qty,
  {oracle_csum('l_extendedprice')} AS sum_base_price,
  {oracle_disc_price_csum('l_extendedprice', 'l_discount')} AS sum_disc_price,
  {oracle_charge_csum('l_extendedprice', 'l_discount', 'l_tax')} AS sum_charge,
  {oracle_cavg('l_quantity')} AS avg_qty,
  {oracle_cavg('l_extendedprice')} AS avg_price,
  {oracle_cavg('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("agg_pricing_summary", oracle=_Q1_ORACLE)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary (SURVEY.md §2.4).

    Scan → filter (pushed to parquet row groups) → hash agg on the 6-group
    key. At 100 TB this is the canonical map-side-combine query: the shuffle
    carries only (2-key × partial-agg) rows, a few KB per task. Money sums
    auto-select by scale (:func:`money_aggs`): the exact int64-cents fast
    path (measured ~2× faster, bit-exact vs the oracle) below the overflow
    bound, the unbounded decimal path past ~1e7 rows (sf10+) — same values
    either way, so the static oracle holds at every scale.
    """
    m = money_aggs(estimate_rows(sf_dir, "lineitem"))
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.where(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            m["sum"]("l_quantity").alias("sum_qty"),
            m["sum"]("l_extendedprice").alias("sum_base_price"),
            m["disc_price"]("l_extendedprice", "l_discount").alias("sum_disc_price"),
            m["charge"]("l_extendedprice", "l_discount", "l_tax").alias("sum_charge"),
            m["avg"]("l_quantity").alias("avg_qty"),
            m["avg"]("l_extendedprice").alias("avg_price"),
            m["avg"]("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_DISTINCT_ORACLE = f"""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) AS n_rows,
       {oracle_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_distinct", oracle=_DISTINCT_ORACLE)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) alongside plain aggs — forces Catalyst's Expand +
    two-phase distinct aggregation (SURVEY.md §2.4)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"),
    )


@register("agg_approx_distinct", oracle=None)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct users per event type. Approximate by
    design -> rows-only check (SURVEY.md §2.4 says do NOT hash-match)."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


_ROLLUP_ORACLE = f"""
SELECT n_name,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       {oracle_dsum('o_totalprice')} AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP(n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT))
"""


@register("agg_grouping_sets", oracle=_ROLLUP_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP revenue by (nation, year) -> (nation) -> (): the grouping-sets
    Expand operator. Dimension joins are broadcast (25-row nation)."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("bigint"))
    )
    return joined.rollup("n_name", "o_year").agg(
        dsum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register("agg_having", oracle="""
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) > 12
""")
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") > 12)
    )


_STATS_ORACLE = f"""
SELECT MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std_price,
       ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
       ROUND(CORR(l_extendedprice, l_quantity), 4) AS corr_price_qty,
       {oracle_davg('l_discount')} AS avg_disc
FROM lineitem
"""


@register("agg_stats", oracle=_STATS_ORACLE)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates. stddev/var/corr are merge-order-dependent in
    the last bits (Welford partial merges), so both sides round to 4 dp —
    the documented tolerance strategy, not a cop-out (SURVEY.md §2 caveats)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_price_qty"),
        davg("l_discount").alias("avg_disc"),
    )


@register("agg_collect_sorted", oracle="""
SELECT l_orderkey,
       array_to_string(list_sort(list(l_partkey)), ',') AS partkeys
FROM lineitem
GROUP BY l_orderkey
""")
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order sorted partkey list. sort_array() makes the collect
    deterministic — collect_list order is not guaranteed across partitions.
    Serialized to a joined string: array cells cross the Spark/DuckDB/pandas
    boundary as numpy-array vs list and can defeat value hashing; a string
    is representation-stable (driver-contract gotcha)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_orderkey").agg(
        F.array_join(F.sort_array(F.collect_list("l_partkey")), ",").alias("partkeys"))


def _filtered_dsum(etype: str) -> str:
    return ("CAST(SUM(CAST(value AS DECIMAL(38,6))) "
            f"FILTER (WHERE event_type = '{etype}') AS DOUBLE)")


_COND_ORACLE = f"""
SELECT date_trunc('day', ts) AS day,
       {_filtered_dsum('click')} AS click_value,
       {_filtered_dsum('view')} AS view_value,
       {_filtered_dsum('purchase')} AS purchase_value,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
FROM events
GROUP BY date_trunc('day', ts)
"""


@register("agg_conditional", oracle=_COND_ORACLE)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-shaped conditional aggregation: one pass, per-type columns via
    FILTER/CASE — the single-shuffle alternative to groupBy().pivot()."""
    ev = load_table(spark, "events", sf_dir)

    def typed_sum(t: str) -> F.Column:
        return dsum(F.when(F.col("event_type") == t, F.col("value")))

    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        typed_sum("click").alias("click_value"),
        typed_sum("view").alias("view_value"),
        typed_sum("purchase").alias("purchase_value"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )


@register("agg_cube_grouping_id", oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       {oracle_dsum('o_totalprice')} AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def agg_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with grouping_id to disambiguate the
    NULLs Expand synthesizes from real NULLs — the full 2^k subtotal
    lattice (rollup covers only the prefix chain; agg_grouping_sets has
    that). Scale: Expand multiplies rows 4× BEFORE the shuffle but
    partial aggregation collapses each grouping set map-side, so the
    exchange carries ~4× the tiny group-key space, not 4× the data."""
    o = load_table(spark, "orders", sf_dir)
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


_MULTI_DISTINCT_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


@register("agg_multi_distinct", oracle=_MULTI_DISTINCT_ORACLE)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) over different columns in one aggregation —
    Catalyst plans this with Expand (one replica of each row per distinct
    column) + two-phase aggregation, so it stays a single shuffle rather
    than one job per distinct. The plan doubles pre-shuffle rows; partial
    aggregation collapses them to the distinct key space map-side. At
    extreme cardinality the HLL form (agg_approx_distinct) replaces it."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


_SKETCH_ROLLUP_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS estimate_within_5pct
FROM events
"""


@register("agg_distinct_sketch_rollup", oracle=_SKETCH_ROLLUP_ORACLE)
def agg_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB distinct-count pattern: build a mergeable HLL SKETCH per
    day (`hll_sketch_agg` — what a daily batch job would persist), then
    roll the stored sketches up with `hll_union_agg` for the total. The
    second stage touches only one tiny sketch blob per day — re-counting
    distincts over raw history never happens again.

    Value-exact oracle (promoted from rows-only): the raw
    HLL estimate can never hash-match a non-HLL engine, so the output
    carries the DETERMINISTIC facts instead — exact event/day/user
    counts plus `estimate_within_5pct`, the 5%-tolerance gate folded
    into a hashable boolean (HLL is a deterministic function of the
    value set, so the boolean is stable across partitionings — pinned
    in tests/test_llm_quality.py). The exact distinct here is the
    verification harness, not the pattern: a production rollup ships
    only the sketch column."""
    ev = load_table(spark, "events", sf_dir)
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.hll_sketch_agg("user_id").alias("user_sketch"),
                  F.count(F.lit(1)).alias("n_events")))
    rolled = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch"))
         .alias("approx_distinct_users"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    exact = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_exact"))
    return (rolled.crossJoin(F.broadcast(exact))  # 1 row × 1 row
            .select("n_events", "n_days", "n_users_exact",
                    (F.abs(F.col("approx_distinct_users").cast("double")
                           / F.col("n_users_exact").cast("double") - 1.0)
                     <= 0.05).alias("estimate_within_5pct")))


@register("agg_quantile_sketch")
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles per segment via the mergeable GK sketch
    (`percentile_approx`, accuracy=10000) — the third sketch family next
    to HLL distinct (agg_distinct_sketch_rollup) and bloom membership
    (join_runtime_bloom_filter). Rows-only by design (SURVEY §5: never
    hash-match a sketch); its quantitative gate in test_llm_quality.py
    bounds the RANK error of each reported quantile at n/accuracy
    against the exact order statistics. At 100 TB this is the only
    quantile you can afford: map-side sketches merge associatively, so
    the shuffle carries one bounded sketch per (partition, group)
    instead of the column itself — and the same sketch persists for
    incremental rollups exactly like the HLL pattern."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    pa = F.percentile_approx("o_totalprice", [0.5, 0.95], 10000)
    return (j.groupBy("c_mktsegment")
            .agg(pa.alias("q"), F.count(F.lit(1)).alias("n_orders"))
            .select("c_mktsegment",
                    F.col("q")[0].alias("p50_approx"),
                    F.col("q")[1].alias("p95_approx"),
                    "n_orders"))


_CMS_DEPTH = 4
_CMS_WIDTH = 2048

_CMS_ORACLE = f"""
WITH pairs AS (
  SELECT s.seed, e.user_id
  FROM events e CROSS JOIN (SELECT unnest(range({_CMS_DEPTH})) AS seed) s
), sketch AS (
  SELECT seed,
         CAST(concat('0x', substring(md5(seed || ':' || user_id), 1, 15))
              AS BIGINT) % {_CMS_WIDTH} AS col,
         COUNT(*) AS cnt
  FROM pairs GROUP BY 1, 2
), keys AS (
  SELECT DISTINCT user_id FROM events WHERE user_id <= 50
), probes AS (
  SELECT k.user_id, s.seed,
         CAST(concat('0x', substring(md5(s.seed || ':' || k.user_id), 1, 15))
              AS BIGINT) % {_CMS_WIDTH} AS col
  FROM keys k CROSS JOIN (SELECT unnest(range({_CMS_DEPTH})) AS seed) s
)
SELECT p.user_id, CAST(MIN(sk.cnt) AS BIGINT) AS est_count
FROM probes p JOIN sketch sk ON sk.seed = p.seed AND sk.col = p.col
GROUP BY p.user_id
"""


@register("agg_freq_sketch_cms", oracle=_CMS_ORACLE)
def agg_freq_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch — the fourth sketch family (HLL =
    distinct, GK = quantiles, bloom = membership, CMS = frequency /
    heavy hitters). Built as a plain groupBy over (seed, hashed-column)
    pairs: depth×width = 4×2048 counters, map-side combinable, so at
    100 TB the shuffle carries one bounded 8k-cell grid per partition
    instead of the keys — and two days' sketches MERGE by cell-wise
    addition, the same persisted-sketch incremental pattern as the HLL
    rollup. Point estimate = min over the depth rows of the probed
    cells; CMS guarantees est >= true (one-sided error bounded by
    eps·N, gated in pytest).

    Unlike library sketches (opaque binary, rows-only checks), the
    portable-md5 construction makes the ENTIRE sketch + estimate path
    value-exact across engines — the oracle builds the identical grid
    in SQL and must agree on every estimated count."""
    ev = load_table(spark, "events", sf_dir).select("user_id")
    seed = F.explode(F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))).alias("seed")

    from lambdatotheslaughter_spark.functions.text import md5_int60

    def col_of(seed_col, key_col):
        return (md5_int60(F.concat_ws(":", seed_col, key_col))
                % _CMS_WIDTH).alias("col")

    sketch = (ev.select("user_id", seed)
              .select("seed", col_of(F.col("seed"), F.col("user_id")))
              .groupBy("seed", "col").agg(F.count(F.lit(1)).alias("cnt")))
    keys = ev.where(F.col("user_id") <= 50).distinct()
    probes = (keys.select("user_id", seed)
              .select("user_id", "seed",
                      col_of(F.col("seed"), F.col("user_id"))))
    return (probes.join(F.broadcast(sketch), ["seed", "col"])
            .groupBy("user_id")
            .agg(F.min("cnt").cast("bigint").alias("est_count")))


@register("agg_sketch_set_intersection", oracle=None)
def agg_sketch_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from SKETCHES ALONE: |clickers ∩
    purchasers| ≈ |A| + |B| − |A∪B| by inclusion–exclusion, where all
    three terms come from HLL sketches (the union via `hll_union` of the
    two stored blobs — never re-reading raw history). This is the
    segment-overlap / reach-dedup question every audience system answers
    at 100 TB, and it composes from exactly the per-segment sketches
    agg_distinct_sketch_rollup already persists; the subtraction
    amplifies HLL's relative error, so the pytest gate
    (tests/test_llm_quality.py) bounds the estimate against the exact
    overlap at ±15% of the LARGER set — the honest bound for an
    inclusion–exclusion of two ±2.3% sketches. Rows-only by design."""
    ev = load_table(spark, "events", sf_dir)
    per_type = (ev.where(F.col("event_type").isin("click", "purchase"))
                .groupBy("event_type")
                .agg(F.hll_sketch_agg("user_id").alias("sk")))
    # two sketch blobs in, three estimates out — no raw data touched
    paired = per_type.agg(
        F.hll_sketch_estimate(
            F.max(F.when(F.col("event_type") == "click", F.col("sk"))))
         .alias("n_click"),
        F.hll_sketch_estimate(
            F.max(F.when(F.col("event_type") == "purchase", F.col("sk"))))
         .alias("n_purchase"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_union"))
    return paired.select(
        "n_click", "n_purchase", "n_union",
        (F.col("n_click") + F.col("n_purchase") - F.col("n_union"))
        .alias("n_overlap_est"))


_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       round(ANY_VALUE(med.m), 6) AS median_value,
       round(quantile_cont(abs(e.value - med.m), 0.5), 6) AS mad,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e JOIN med ON e.event_type = med.event_type
GROUP BY e.event_type
"""


@register("agg_mad_robust", oracle=_MAD_ORACLE)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust dispersion
    measure outlier gates use when stddev is poisoned by the outliers
    themselves. Two-pass: per-group exact median (one shuffle), broadcast
    the tiny median table back, then the median of absolute deviations.
    Both engines interpolate even-count medians ((a+b)/2 vs a+(b-a)*0.5 —
    1-ulp apart), so both levels round to 6 dp, the udaf_pandas_grouped
    precedent.

    Scale shape: exact medians need a per-group sort — Spark's
    percentile() aggregates within the group partition; group count is
    event-type-bounded so the broadcast-back join is trivially small."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m"))
    j = ev.join(F.broadcast(med), "event_type")
    return (j.groupBy("event_type")
            .agg(F.round(F.any_value("m"), 6).alias("median_value"),
                 F.round(F.percentile(F.abs(F.col("value") - F.col("m")),
                                      F.lit(0.5)), 6).alias("mad"),
                 F.count(F.lit(1)).cast("bigint").alias("n_events")))


_SKEW_KURT_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS HUGEINT) AS xc FROM events
), s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(xc) AS s1, SUM(xc * xc) AS s2,
         SUM(xc * xc * xc) AS s3, SUM(xc * xc * xc * xc) AS s4
  FROM c GROUP BY event_type
), a AS (
  -- HUGEINT -> DOUBLE via VARCHAR: DuckDB's direct hugeint cast is NOT
  -- correctly rounded past 2^53 (measured 1 ulp off on sigma-x^4), while
  -- strtod and Spark's BigDecimal.doubleValue both round correctly
  SELECT event_type, n,
         CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS a1,
         CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS a2,
         CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS a3,
         CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS a4
  FROM s
)
SELECT event_type, n,
       a1 / 100.0 AS mean_value,
       a2 - a1 * a1 AS m2_cents2,
       (a3 - 3.0 * a1 * a2 + 2.0 * a1 * a1 * a1)
         / ((a2 - a1 * a1) * sqrt(a2 - a1 * a1)) AS skewness,
       (a4 - 4.0 * a1 * a3 + 6.0 * a1 * a1 * a2 - 3.0 * a1 * a1 * a1 * a1)
         / ((a2 - a1 * a1) * (a2 - a1 * a1)) - 3.0 AS excess_kurtosis
FROM a
"""


@register("agg_skew_kurt_exact", oracle=_SKEW_KURT_ORACLE)
def agg_skew_kurt_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per event type — the distribution-
    shape diagnostics a quality gate reads before trusting a z-score.
    Built-in skewness()/kurtosis() aggregate doubles in partition order
    and can never hash-match across engines; instead the EXACT integer
    power sums Σx, Σx², Σx³, Σx⁴ are aggregated in wide-decimal/HUGEINT
    space (cents⁴ ≈ 1e20 per row — past int64, inside decimal(38));
    the moments then assemble in DOUBLE through an expression tree
    written IDENTICALLY in both engines (each step one correctly-rounded
    IEEE op; m2^1.5 spelled m2·sqrt(m2) because libm pow() is not
    portable; the oracle's HUGEINT sums reach double via a VARCHAR hop —
    DuckDB's direct hugeint→double cast is 1 ulp off correct rounding
    past 2^53, found by the sf0.01 parity gate). Skew/kurtosis are
    scale-invariant, so computing them in cents equals computing them on
    the raw values.

    Scale shape: one map-side-combinable groupBy carrying four decimal
    partial sums per group — the same single-shuffle shape as any Q1-
    style aggregate, exact at any partition count."""
    ev = load_table(spark, "events", sf_dir)
    xc = F.round(F.col("value") * 100, 0).cast("decimal(38,0)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xc).alias("s1"),
        F.sum(xc * xc).alias("s2"),
        F.sum(xc * xc * xc).alias("s3"),
        F.sum(xc * xc * xc * xc).alias("s4"))
    mean, m2, skew, kurt = central_moments()
    return s.select(
        "event_type", "n",
        (mean / F.lit(100.0)).alias("mean_value"),
        m2.alias("m2_cents2"),
        skew.alias("skewness"),
        kurt.alias("excess_kurtosis"))


_HIST_ORACLE = """
SELECT event_type,
       CAST(least(floor(value / 50.0), 19) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(MAX(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS max_cents,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY event_type, CAST(least(floor(value / 50.0), 19) AS BIGINT)
"""


@register("agg_hist_fixed_buckets", oracle=_HIST_ORACLE)
def agg_hist_fixed_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram (width-50 buckets, capped at 19 —
    the width_bucket shape) of event values per type, with exact
    integer-cents min/max/sum per bucket: the distribution profile a
    monitoring dashboard renders. Bucket assignment is floor(value/50) —
    one exact double division + floor, identical in both engines.

    Scale shape: pure map-side bucket tag + one combinable groupBy on a
    (type × 20)-bounded key space; no sort, no window — the histogram
    never sees the data ordered."""
    ev = load_table(spark, "events", sf_dir)
    cents = iround(F.col("value") * 100)
    bucket = F.least(F.floor(F.col("value") / 50.0), F.lit(19)).cast("bigint")
    return (ev.select("event_type", bucket.alias("bucket"),
                      cents.alias("cents"))
            .groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.min("cents").cast("bigint").alias("min_cents"),
                 F.max("cents").cast("bigint").alias("max_cents"),
                 F.sum("cents").cast("bigint").alias("sum_cents")))


_WEIGHTED_STATS_ORACLE = """
WITH c AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity, 0) AS HUGEINT) AS w,
         CAST(round(l_extendedprice * 100, 0) AS HUGEINT) AS p
  FROM lineitem
), s AS (
  SELECT l_returnflag, l_linestatus,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(w) AS BIGINT) AS wt,
         SUM(w * p) AS s1, SUM(w * p * p) AS s2
  FROM c GROUP BY l_returnflag, l_linestatus
), a AS (
  -- HUGEINT -> DOUBLE via VARCHAR: correctly rounded (see skew/kurt note)
  SELECT l_returnflag, l_linestatus, n, wt,
         CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(wt AS DOUBLE) AS b1,
         CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(wt AS DOUBLE) AS b2
  FROM s
)
SELECT l_returnflag, l_linestatus, n, wt AS weight_total,
       b1 / 100.0 AS wmean_price,
       b2 - b1 * b1 AS wvar_cents2,
       sqrt(b2 - b1 * b1) AS wstd_cents
FROM a
"""


@register("agg_weighted_stats", oracle=_WEIGHTED_STATS_ORACLE)
def agg_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price mean/variance per (returnflag, linestatus)
    — the weighted-moment aggregate behind any "average unit price
    weighted by volume" report, and the same shape as token-weighted
    quality averaging over a corpus. Like agg_skew_kurt_exact, the
    weighted power sums Σw, Σw·p, Σw·p² aggregate EXACTLY in
    decimal(38)/HUGEINT space (w·p² ≈ 5e15 per row — int64 would wrap
    at ~2k rows per group), then the moments assemble in an identical
    double expression tree; the oracle's HUGEINT→DOUBLE hop goes via
    VARCHAR because DuckDB's direct cast is 1 ulp off past 2^53.

    Scale shape: one map-side-combinable groupBy carrying two decimal
    partials + two longs per group — single shuffle, exact at any
    partition count and any scale factor."""
    li = load_table(spark, "lineitem", sf_dir)
    wq = F.round(F.col("l_quantity"), 0).cast("decimal(38,0)")
    p = F.round(F.col("l_extendedprice") * 100, 0).cast("decimal(38,0)")
    s = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(wq).cast("bigint").alias("wt"),
        F.sum(wq * p).alias("s1"),
        F.sum(wq * p * p).alias("s2"))
    wd = F.col("wt").cast("double")
    b1 = F.col("s1").cast("double") / wd
    b2 = F.col("s2").cast("double") / wd
    return s.select(
        "l_returnflag", "l_linestatus", "n",
        F.col("wt").alias("weight_total"),
        (b1 / F.lit(100.0)).alias("wmean_price"),
        (b2 - b1 * b1).alias("wvar_cents2"),
        F.sqrt(b2 - b1 * b1).alias("wstd_cents"))


# ---------------------------------------------------------------------------
# built-in linear-regression aggregates
# ---------------------------------------------------------------------------

_REGR_SQL = """
SELECT event_type,
  round(regr_slope(value, CAST(user_id % 100 AS DOUBLE)), 6) AS slope,
  round(regr_intercept(value, CAST(user_id % 100 AS DOUBLE)), 6) AS icept,
  round(regr_r2(value, CAST(user_id % 100 AS DOUBLE)), 6) AS r2,
  CAST(regr_count(value, CAST(user_id % 100 AS DOUBLE)) AS BIGINT) AS n
FROM {src} GROUP BY event_type
"""


@register("agg_regr_builtins", oracle=_REGR_SQL.format(src="events"))
def agg_regr_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN `regr_*` aggregate family (slope / intercept / R² /
    count — SQL:2003 linear regression, Spark 3.4+): the one-pass
    engine-native path for the per-group trend fits ts_trend_slope
    derives by hand from exact integer moments. Both engines implement
    the same spec natively, so identical text runs on both; results
    round at 6 dp because the merge order of the engines' internal
    float moments differs (the same discipline as every merge-order
    statistic in the repo — see agg_stats).

    Scale shape: regr_* are partial-aggregatable (each partition folds
    (n, Σx, Σy, Σxx, Σxy) and merges), so one combinable hash
    aggregate — the textbook map-side-collapse shape."""
    return spark.sql(_REGR_SQL, src=load_table(spark, "events", sf_dir))


# ---------------------------------------------------------------------------
# theta sketch set algebra
# ---------------------------------------------------------------------------

_THETA_ORACLE = """
SELECT
  CAST(COUNT(DISTINCT CASE WHEN event_type = 'click' AND value >= 200
                           THEN user_id END) AS BIGINT) AS n_big_click,
  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' AND value >= 200
                           THEN user_id END) AS BIGINT) AS n_big_purchase,
  CAST(COUNT(DISTINCT CASE WHEN (event_type = 'click'
                                 OR event_type = 'purchase')
                           AND value >= 200
                           THEN user_id END) AS BIGINT) AS n_union,
  CAST(COUNT(DISTINCT CASE WHEN u_click AND u_purch THEN user_id END)
       AS BIGINT) AS n_intersection,
  CAST(COUNT(DISTINCT CASE WHEN u_click AND NOT u_purch THEN user_id END)
       AS BIGINT) AS n_click_only
FROM (
  SELECT user_id, event_type, value,
         bool_or(event_type = 'click' AND value >= 200)
           OVER (PARTITION BY user_id) AS u_click,
         bool_or(event_type = 'purchase' AND value >= 200)
           OVER (PARTITION BY user_id) AS u_purch
  FROM events
)
"""


@register("agg_theta_sketch_algebra", oracle=_THETA_ORACLE)
def agg_theta_sketch_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA (Spark 4.1 datasketches surface) —
    union, INTERSECTION, and DIFFERENCE of two user cohorts
    (high-value clickers vs high-value purchasers) from two sketches
    built in ONE pass. This is the operation family HLL cannot do
    honestly: agg_sketch_set_intersection fakes A∩B by
    inclusion–exclusion over HLL unions (error compounds), while the
    theta sketch carries the hash SAMPLE, so ∩ and \\ are first-class
    with bounded error. Mergeability = partial-aggregatable: per-round
    cohort sketches union across days for free at 100 TB.

    Oracle contract: below the sketch's nominal capacity (k=4096
    retained hashes) a theta sketch is in EXACT mode — the estimate IS
    the distinct count, deterministically — and every driver/replica
    scale keeps these cohorts under 4096 users, so the DuckDB oracle is
    plain exact distinct algebra and the hash match is well-defined.
    Estimation mode (the 100 TB reality) is gated separately in
    tests/test_llm_quality.py: 1M distinct → relative error < 2%.

    Scale shape: one combinable aggregate builds both sketches
    (conditional inputs); the algebra runs on the driver's two ~32 KB
    sketch values — constant post-fold work at any corpus size."""
    ev = load_table(spark, "events", sf_dir)
    pair = ev.agg(
        F.theta_sketch_agg(
            F.when((F.col("event_type") == "click")
                   & (F.col("value") >= 200), F.col("user_id"))).alias("sc"),
        F.theta_sketch_agg(
            F.when((F.col("event_type") == "purchase")
                   & (F.col("value") >= 200), F.col("user_id"))).alias("sp"))
    return pair.select(
        F.theta_sketch_estimate("sc").alias("n_big_click"),
        F.theta_sketch_estimate("sp").alias("n_big_purchase"),
        F.theta_sketch_estimate(F.theta_union("sc", "sp")).alias("n_union"),
        F.theta_sketch_estimate(F.theta_intersection("sc", "sp"))
        .alias("n_intersection"),
        F.theta_sketch_estimate(F.theta_difference("sc", "sp"))
        .alias("n_click_only"))


# ---------------------------------------------------------------------------
# bitmap exact-distinct rollup
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS daily_distinct
  FROM events GROUP BY event_type, date_trunc('day', ts)
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(d.daily_distinct) AS BIGINT) AS sum_daily_distinct,
       m.month_distinct
FROM daily d JOIN (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
           AS month_distinct
  FROM events GROUP BY event_type) m
  ON d.event_type = m.event_type
GROUP BY d.event_type, m.month_distinct
"""


@register("agg_bitmap_distinct_rollup", oracle=_BITMAP_ORACLE)
def agg_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE EXACT distinct counting via Spark's bitmap aggregates —
    the roaring-bitmap pattern that solves COUNT(DISTINCT)'s one at-scale
    flaw: distinct counts can't pre-aggregate (day rollups can't sum into
    a month), so warehouses either re-scan raw data per grain or accept
    HLL error. Bitmaps restore mergeability EXACTLY: per (type, day,
    bucket) partial bitmaps fold map-side (bitmap_construct_agg over
    bitmap_bit_position), daily distinct = Σ bitmap_count, and the MONTH
    rollup ORs the same partial bitmaps (bitmap_or_agg) WITHOUT touching
    raw rows again — the exact analog of the HLL union rollup
    (agg_distinct_sketch_rollup), with error zero. The oracle computes
    both grains as plain COUNT(DISTINCT), proving bitmap == exact.

    Scale shape: one combinable bitmap fold keyed by (type, day,
    bucket); both output grains derive from the PARTIAL bitmaps (the
    month pass re-reads ~bucket-count rows per type, not the corpus);
    bucket fan-out keeps each bitmap ≤ 4 KB regardless of id range."""
    ev = load_table(spark, "events", sf_dir)
    parts = (ev.groupBy("event_type",
                        F.date_trunc("day", "ts").alias("day"),
                        F.bitmap_bucket_number("user_id").alias("bucket"))
             .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id"))
                  .alias("bm")))
    daily = (parts.groupBy("event_type", "day")
             .agg(F.sum(F.bitmap_count("bm")).cast("bigint")
                  .alias("daily_distinct")))
    month = (parts.groupBy("event_type", "bucket")
             .agg(F.bitmap_or_agg("bm").alias("bm"))
             .groupBy("event_type")
             .agg(F.sum(F.bitmap_count("bm")).cast("bigint")
                  .alias("month_distinct")))
    return (daily.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                 F.sum("daily_distinct").cast("bigint")
                 .alias("sum_daily_distinct"))
            .join(month, "event_type")
            .select("event_type", "n_days", "sum_daily_distinct",
                    "month_distinct"))


# ---------------------------------------------------------------------------
# CMS width audit: estimate vs exact across sketch sizes
# ---------------------------------------------------------------------------

_CMSA_DEPTH = 4
_CMSA_WIDTHS = (256, 2048)

_CMSA_ORACLE = f"""
WITH widths AS (
  SELECT unnest([{", ".join(str(w) for w in _CMSA_WIDTHS)}]) AS width
), seeds AS (
  SELECT unnest(range({_CMSA_DEPTH})) AS seed
), sketch AS (
  SELECT w.width, s.seed,
         CAST(concat('0x', substring(md5(s.seed || ':' || e.user_id),
                                     1, 15)) AS BIGINT) % w.width AS col,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events e CROSS JOIN seeds s CROSS JOIN widths w
  GROUP BY 1, 2, 3
), exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM events WHERE user_id <= 50 GROUP BY user_id
), probes AS (
  SELECT x.user_id, x.exact_count, w.width, s.seed,
         CAST(concat('0x', substring(md5(s.seed || ':' || x.user_id),
                                     1, 15)) AS BIGINT) % w.width AS col
  FROM exact x CROSS JOIN seeds s CROSS JOIN widths w
)
SELECT p.user_id, CAST(p.width AS BIGINT) AS width,
       MAX(p.exact_count) AS exact_count,
       CAST(MIN(sk.cnt) AS BIGINT) AS est_count,
       CAST(MIN(sk.cnt) - MAX(p.exact_count) AS BIGINT) AS overcount
FROM probes p
JOIN sketch sk ON sk.width = p.width AND sk.seed = p.seed
               AND sk.col = p.col
GROUP BY p.user_id, p.width
"""


@register("agg_cms_width_audit", oracle=_CMSA_ORACLE)
def agg_cms_width_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch ERROR AUDIT: the same md5-seeded CMS
    (agg_freq_sketch_cms) built at TWO widths (256 vs 2048 counters),
    each probed for the first 50 users next to their EXACT counts --
    the pick-the-width-before-you-trust-it table, sibling of
    llm_minhash_jaccard_estimate's pick-k audit: CMS only ever
    OVERcounts (min over d rows bounds error at eps*N with
    eps = e/width), and this table shows the narrow sketch's collisions
    against the wide one's near-exactness, which is the evidence a
    memory-vs-accuracy decision actually needs. Everything is exact
    integer arithmetic over deterministic md5 buckets -- sketch,
    probes and audit all hash-match.

    Scale shape: the raw scan first collapses to per-user counts (ONE
    combinable groupBy — the only corpus-sized pass), and the
    (depth x widths) fan + md5 bucketing run over the DISTINCT-USER
    table, not the event stream: a CMS cell count is Σ over users
    hashing into it of that user's count, so pre-aggregation is
    value-identical while cutting the hashed row volume from 8x|events|
    to 8x|users| (the md5 is also computed once per
    (seed, user) and only the cheap modulus fans across widths). The
    sketch table stays width-bounded; probes are a broadcast join
    against the bounded key set."""
    ev = load_table(spark, "events", sf_dir)
    seeds = spark.range(_CMSA_DEPTH).toDF("seed")
    widths = spark.createDataFrame([(w,) for w in _CMSA_WIDTHS],
                                   "width long")
    col_of = (F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col("seed").cast("string"),
        F.col("user_id").cast("string"))), 1, 15), 16, 10)
        .cast("bigint") % F.col("width"))
    per_user = (ev.groupBy("user_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("ucnt")))
    hashed = (per_user
              .crossJoin(F.broadcast(seeds))
              .select("user_id", "ucnt", "seed",
                      F.conv(F.substring(F.md5(F.concat_ws(
                          ":", F.col("seed").cast("string"),
                          F.col("user_id").cast("string"))), 1, 15),
                          16, 10).cast("bigint").alias("h")))
    sketch = (hashed.crossJoin(F.broadcast(widths))
              .select("width", "seed", (F.col("h") % F.col("width"))
                      .alias("col"), "ucnt")
              .groupBy("width", "seed", "col")
              .agg(F.sum("ucnt").cast("bigint").alias("cnt")))
    exact = (ev.where(F.col("user_id") <= 50)
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count")))
    probes = (exact.crossJoin(F.broadcast(seeds))
              .crossJoin(F.broadcast(widths))
              .select("user_id", "exact_count", "width", "seed",
                      col_of.alias("col")))
    return (probes.join(sketch, ["width", "seed", "col"])
            .groupBy("user_id", "width")
            .agg(F.max("exact_count").alias("exact_count"),
                 F.min("cnt").cast("bigint").alias("est_count"),
                 (F.min("cnt") - F.max("exact_count")).cast("bigint")
                 .alias("overcount"))
            .select("user_id", F.col("width").cast("bigint").alias("width"),
                    "exact_count", "est_count", "overcount"))


# ---------------------------------------------------------------------------
# trimmed + winsorized mean (robust location)
# ---------------------------------------------------------------------------

_TRIM_PCT = 10  # percent trimmed/winsorized from EACH tail

_TRIM_ORACLE = f"""
WITH c AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase'
), dom AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM c GROUP BY x
), cum AS (
  SELECT x, t,
         CAST(COALESCE(SUM(t) OVER (ORDER BY x
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0)
              AS BIGINT) AS below,
         CAST(SUM(t) OVER () AS BIGINT) AS n,
         CAST(SUM(x * t) OVER () AS BIGINT) AS total
  FROM dom
), k AS (
  SELECT *, (n * {_TRIM_PCT}) // 100 AS kk FROM cum
), pieces AS (
  -- per value: how many of its copies fall in the bottom-k / top-k
  -- tails (partial-group overlap handled by exact integer clamps)
  SELECT n, kk, total, x,
         GREATEST(0, LEAST(t, kk - below)) AS in_lo,
         GREATEST(0, LEAST(t, (below + t) - (n - kk))) AS in_hi,
         -- boundary values: the value at rank kk+1 / rank n-kk
         CASE WHEN below < kk + 1 AND kk + 1 <= below + t THEN x END
           AS lo_bound,
         CASE WHEN below < n - kk AND n - kk <= below + t THEN x END
           AS hi_bound
  FROM k
), s AS (
  SELECT MAX(n) AS n, MAX(kk) AS kk, MAX(total) AS total,
         CAST(SUM(in_lo * x) AS BIGINT) AS lo_sum,
         CAST(SUM(in_hi * x) AS BIGINT) AS hi_sum,
         CAST(MIN(lo_bound) AS BIGINT) AS p_lo,
         CAST(MIN(hi_bound) AS BIGINT) AS p_hi
  FROM pieces
)
SELECT n, kk AS k_trimmed_each_tail,
       CAST(total - lo_sum - hi_sum AS DOUBLE)
         / CAST(n - 2 * kk AS DOUBLE) AS trimmed_mean_cents,
       CAST(total - lo_sum - hi_sum + kk * p_lo + kk * p_hi AS DOUBLE)
         / CAST(n AS DOUBLE) AS winsorized_mean_cents
FROM s
"""


@register("agg_trimmed_winsorized_mean", oracle=_TRIM_ORACLE)
def agg_trimmed_winsorized_mean(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """10% trimmed and winsorized means of purchase cents — the robust
    location pair between the mean (agg_stats) and the median
    (agg_percentile_disc_exact): trimming DROPS each tail's k values,
    winsorizing CLAMPS them to the cut boundaries. Fully
    domain-collapsed: per-value counts, exact integer clamps for
    partial-group tail overlap (a value straddling the k-th rank
    contributes exactly k−below copies), boundary values by rank pick —
    every sum BIGINT, two final divisions.

    Scale shape: one combinable domain collapse; one cumulative window
    over the bounded value DOMAIN; one fold to a single row."""
    ev = load_table(spark, "events", sf_dir) \
        .where(F.col("event_type") == "purchase")
    x = round_cents("value")
    dom = ev.select(x.alias("x")).groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"))
    wb = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    tot = dom.agg(F.sum("t").cast("bigint").alias("n"),
                  F.sum(F.col("x") * F.col("t")).cast("bigint")
                  .alias("total"))
    cum = (dom.select(
        "x", "t",
        F.coalesce(F.sum("t").over(wb), F.lit(0)).cast("bigint")
        .alias("below"))
        .crossJoin(F.broadcast(tot)))
    kk = F.floor(F.col("n") * _TRIM_PCT / 100).cast("bigint")
    in_lo = F.greatest(F.lit(0), F.least(F.col("t"), kk - F.col("below")))
    in_hi = F.greatest(F.lit(0), F.least(
        F.col("t"), (F.col("below") + F.col("t")) - (F.col("n") - kk)))
    lo_bound = F.when((F.col("below") < kk + 1)
                      & (kk + 1 <= F.col("below") + F.col("t")),
                      F.col("x"))
    hi_bound = F.when((F.col("below") < F.col("n") - kk)
                      & (F.col("n") - kk <= F.col("below") + F.col("t")),
                      F.col("x"))
    s = cum.agg(F.max("n").alias("n"), F.max(kk).alias("kk"),
                F.max("total").alias("total"),
                F.sum(in_lo * F.col("x")).cast("bigint").alias("lo_sum"),
                F.sum(in_hi * F.col("x")).cast("bigint").alias("hi_sum"),
                F.min(lo_bound).cast("bigint").alias("p_lo"),
                F.min(hi_bound).cast("bigint").alias("p_hi"))
    return s.select(
        "n", F.col("kk").alias("k_trimmed_each_tail"),
        ((F.col("total") - F.col("lo_sum") - F.col("hi_sum"))
         .cast("double")
         / (F.col("n") - 2 * F.col("kk")).cast("double"))
        .alias("trimmed_mean_cents"),
        ((F.col("total") - F.col("lo_sum") - F.col("hi_sum")
          + F.col("kk") * F.col("p_lo") + F.col("kk") * F.col("p_hi"))
         .cast("double") / F.col("n").cast("double"))
        .alias("winsorized_mean_cents"))


# ---------------------------------------------------------------------------
# builtin median / exact interpolation surface
# ---------------------------------------------------------------------------

_MEDIAN_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       median(CAST(round(value * 100, 0) AS BIGINT)) AS median_cents
FROM events GROUP BY event_type
"""


@register("agg_median_builtin", oracle=_MEDIAN_ORACLE)
def agg_median_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The builtin median() aggregate (Spark 3.4+) on integer cents per
    event type — the one-call surface next to the family's explicit
    rank-pick medians (agg_percentile_disc_exact picks discretely;
    this one INTERPOLATES the even-count midpoint, and both engines
    interpolate identically on integer inputs: the .5 midpoint of two
    int64 cents is exact in double).

    Scale shape: Spark plans median as a single-pass typed aggregate
    (no global sort); the fold is per-type parallel."""
    ev = load_table(spark, "events", sf_dir)
    cents = round_cents("value")
    return (ev.select("event_type", cents.alias("c"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.median("c").alias("median_cents")))


# ---------------------------------------------------------------------------
# geometric / harmonic means via domain collapse
# ---------------------------------------------------------------------------

_GEO_HARM_ORACLE = """
WITH dom AS (
  SELECT event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS xc,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events
  WHERE CAST(round(value * 100, 0) AS BIGINT) > 0
  GROUP BY event_type, CAST(round(value * 100, 0) AS BIGINT)
), s AS (
  SELECT event_type,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(xc * c) AS BIGINT) AS sx,
         CAST(SUM(c * CAST(round(ln(CAST(xc AS DOUBLE)) * 1000000.0, 0)
                           AS BIGINT)) AS BIGINT) AS slnq,
         CAST(SUM(c * CAST(round(1000000000000.0 / CAST(xc AS DOUBLE), 0)
                           AS BIGINT)) AS BIGINT) AS sinvq
  FROM dom GROUP BY event_type
)
SELECT event_type, n,
       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS arith_mean_cents,
       round(exp(CAST(slnq AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0), 6)
         AS geo_mean_cents,
       round(CAST(n AS DOUBLE) * 1000000000000.0 / CAST(sinvq AS DOUBLE), 6)
         AS harm_mean_cents
FROM s ORDER BY event_type
"""


@register("agg_geometric_harmonic_mean", oracle=_GEO_HARM_ORACLE)
def agg_geometric_harmonic_mean(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The full Pythagorean-means panel per event type (harmonic ≤
    geometric ≤ arithmetic): geometric mean = exp(Σln x / n), harmonic
    = n/Σ(1/x) — the right locations for RATE- and RATIO-shaped data
    the plain mean overstates. Both transcendental folds collapse to
    the bounded CENTS DOMAIN first (one ln / one reciprocal per
    DISTINCT value, quantized to fixed-point integers, then weighted
    by exact counts), so the corpus-side fold is a plain BIGINT sum —
    no float-order hazard and only ~49k ln calls at ANY corpus size.
    Both means are defined only on the POSITIVE support, so zero-cent
    events (ln 0 = −∞, 1/0 undefined; sf0.1 carries six of them) are
    excluded from the panel in both engines — n counts priced events.

    Scale shape: one combinable (type, value) domain collapse, one
    5-group fold; corpus scanned once."""
    ev = load_table(spark, "events", sf_dir)
    xc = round_cents("value")
    dom = (ev.select("event_type", xc.alias("xc"))
           .where(F.col("xc") > 0)
           .groupBy("event_type", "xc")
           .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    lnq = F.round(F.log(F.col("xc").cast("double")) * 1000000.0, 0) \
        .cast("bigint")
    invq = F.round(F.lit(1000000000000.0) / F.col("xc").cast("double"), 0) \
        .cast("bigint")
    s = (dom.groupBy("event_type")
         .agg(F.sum("c").cast("bigint").alias("n"),
              F.sum(F.col("xc") * F.col("c")).cast("bigint").alias("sx"),
              F.sum(F.col("c") * lnq).cast("bigint").alias("slnq"),
              F.sum(F.col("c") * invq).cast("bigint").alias("sinvq")))
    nd = F.col("n").cast("double")
    return (s.select(
        "event_type", "n",
        F.round(F.col("sx").cast("double") / nd, 6)
        .alias("arith_mean_cents"),
        F.round(F.exp(F.col("slnq").cast("double") / nd / 1000000.0), 6)
        .alias("geo_mean_cents"),
        F.round(nd * 1000000000000.0 / F.col("sinvq").cast("double"), 6)
        .alias("harm_mean_cents"))
        .orderBy("event_type"))


# ---------------------------------------------------------------------------
# equi-depth histogram (the ANALYZE-statistics shape)
# ---------------------------------------------------------------------------

_EQUI_DEPTH_ORACLE = """
WITH dom AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
), cum AS (
  SELECT v, c,
         CAST(SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cc,
         (SELECT CAST(SUM(c) AS BIGINT) FROM dom) AS n
  FROM dom
), buckets AS (
  SELECT b.b,
         CAST(MIN(cum.v) FILTER (
              WHERE cum.cc >= (b.b * cum.n + 9) // 10) AS BIGINT)
           AS upper_cents,
         CAST(MIN(cum.cc) FILTER (
              WHERE cum.cc >= (b.b * cum.n + 9) // 10) AS BIGINT)
           AS cum_rows
  FROM cum CROSS JOIN (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS b)
                      AS b
  GROUP BY b.b
)
SELECT b AS bucket, upper_cents, cum_rows,
       cum_rows - COALESCE(lag(cum_rows) OVER (ORDER BY b), 0)
         AS bucket_rows
FROM buckets ORDER BY bucket
"""


@register("agg_histogram_equi_depth", oracle=_EQUI_DEPTH_ORACLE)
def agg_histogram_equi_depth(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) 10-bucket histogram of order totals —
    the statistic ANALYZE builds for selectivity estimation (equi-WIDTH
    histograms, agg_hist_fixed_buckets, lie under skew; equi-depth
    puts the resolution where the data is). Boundaries are ACTUAL data
    values picked by the exact integer ceil-rank identity over the
    bounded cents DOMAIN (the agg_percentile_disc_exact discipline at
    ×10), so there is no interpolation and no global row ranking;
    per-bucket row counts difference the cumulative picks.

    Scale shape: one combinable domain collapse, one cumulative window
    over the bounded domain, a ×10 broadcast-spine conditional-MIN
    fold, one 10-row lag."""
    o = load_table(spark, "orders", sf_dir)
    v = round_cents("o_totalprice")
    dom = (o.select(v.alias("v"))
           .groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    wd = (Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = dom.agg(F.sum("c").cast("bigint").alias("n"))
    cum = (dom.select("v", F.sum("c").over(wd).cast("bigint").alias("cc"))
           .crossJoin(F.broadcast(tot)))
    spine = spark.range(1, 11).select(F.col("id").alias("b"))
    thresh = F.expr("(b * n + 9) div 10")
    buckets = (cum.crossJoin(F.broadcast(spine))
               .groupBy("b")
               .agg(F.min(F.when(F.col("cc") >= thresh, F.col("v")))
                    .cast("bigint").alias("upper_cents"),
                    F.min(F.when(F.col("cc") >= thresh, F.col("cc")))
                    .cast("bigint").alias("cum_rows")))
    wl = Window.orderBy("b")
    return (buckets.select(
        F.col("b").alias("bucket"), "upper_cents", "cum_rows",
        (F.col("cum_rows")
         - F.coalesce(F.lag("cum_rows").over(wl), F.lit(0)))
        .alias("bucket_rows"))
        .orderBy("bucket"))


@register("agg_percentiles", oracle="""
SELECT c_mktsegment,
       round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 6) AS p99,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per segment. Rounded to 6 dp: linear
    interpolation ((a+b)/2 vs a+(b-a)*f) can differ in the last ulp."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 6).alias("p99"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register("agg_mode_deterministic", oracle="""
SELECT user_id, event_type AS top_type, cnt AS top_type_count FROM (
  SELECT user_id, event_type, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY COUNT(*) DESC, event_type) AS rn
  FROM events GROUP BY user_id, event_type
) WHERE rn = 1
""")
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type. Built from count + row_number instead of
    mode(): both engines' mode() break frequency ties arbitrarily — this
    formulation pins the tie-break (count desc, type asc)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type"))
    return (
        ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_type"),
                F.col("cnt").alias("top_type_count"))
    )


_ROLLUP_SUBTOTALS_ORACLE = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS o_quarter,
       CAST(GROUPING(CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)) * 2
            + GROUPING(CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT))
            AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       {oracle_dsum('o_totalprice')} AS revenue
FROM orders
GROUP BY ROLLUP (CAST(EXTRACT(year FROM o_orderdate) AS BIGINT),
                 CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT))
"""


@register("agg_rollup", oracle=_ROLLUP_SUBTOTALS_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the (year, quarter) time hierarchy — the prefix-chain
    subtotal lattice (year totals + grand total, without cube's
    quarter-only cut). grouping_id disambiguates Expand's synthesized
    NULLs from real ones. Scale shape: Expand emits 3 grouping sets
    BEFORE the shuffle but partial agg collapses each set map-side, so
    the exchange carries ~3× the small key space, not 3× the rows."""
    o = load_table(spark, "orders", sf_dir)
    yr = F.year("o_orderdate").cast("bigint").alias("o_year")
    qtr = F.quarter("o_orderdate").cast("bigint").alias("o_quarter")
    return o.select(yr, qtr, "o_totalprice").rollup("o_year", "o_quarter").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


_MINMAX_BY_ORACLE = """
WITH ranked AS (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment,
       MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS top_orderkey,
       MAX(CASE WHEN rmax = 1 THEN o_totalprice END) AS top_price,
       MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS bottom_orderkey,
       MAX(CASE WHEN rmin = 1 THEN o_totalprice END) AS bottom_price
FROM ranked GROUP BY c_mktsegment
"""


@register("agg_minmax_by", oracle=_MINMAX_BY_ORACLE)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) per segment, tie-pinned by ordering on
    struct(price, orderkey) — Spark compares structs lexicographically, so
    frequency ties can never flip the answer between runs or partial-agg
    orders. ONE shuffle (the groupBy); the oracle's two window passes show
    what max_by saves: no per-group sort ever happens, each partial keeps
    a single running champion row. That constant-state property is what
    makes argmax safe on a 100 TB fact table."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    j = o.join(c, o.o_custkey == c.c_custkey)
    key = F.struct("o_totalprice", "o_orderkey")
    return j.groupBy("c_mktsegment").agg(
        F.max_by("o_orderkey", key).alias("top_orderkey"),
        F.max("o_totalprice").alias("top_price"),
        F.min_by("o_orderkey", key).alias("bottom_orderkey"),
        F.min("o_totalprice").alias("bottom_price"),
    )


_CORR_ORACLE = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_pop(l_quantity, l_extendedprice), 4) AS qty_price_covp,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covs,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_corr_covar", oracle=_CORR_ORACLE)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates (corr / covar_pop / covar_samp /
    regr_slope) per return flag. Both engines use one-pass co-moment
    updates whose partial-merge order differs, so results are rounded
    (corr is O(1): 6 dp; covariances are O(1e4): 4 dp — both leave >10³
    headroom over the ~1e-8 accumulated ulp drift). Scale shape: constant
    per-group state (5 running moments), map-side combinable."""
    li = load_table(spark, "lineitem", sf_dir)
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(q, p), 6).alias("qty_price_corr"),
        F.round(F.covar_pop(q, p), 4).alias("qty_price_covp"),
        F.round(F.covar_samp(q, p), 4).alias("qty_price_covs"),
        F.round(F.regr_slope(p, q), 4).alias("price_per_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_BITWISE_ORACLE = """
SELECT l_returnflag,
       CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS and_ln,
       CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS or_ln,
       CAST(bit_xor(CAST(l_orderkey AS BIGINT)) AS BIGINT) AS xor_key,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_bitwise", oracle=_BITWISE_ORACLE)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregates — flag-mask consolidation and the
    XOR-checksum idiom (a missing-row detector: XOR of a key column is
    order-independent and cancels on pairs). Exact integer ops, fully
    associative/commutative — deterministic under any partial-agg order,
    no rounding discipline needed."""
    li = load_table(spark, "lineitem", sf_dir)
    ln = F.col("l_linenumber").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(ln).alias("and_ln"),
        F.bit_or(ln).alias("or_ln"),
        F.bit_xor(F.col("l_orderkey").cast("bigint")).alias("xor_key"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_BOOL_ORACLE = """
SELECT o_orderstatus,
       bool_and(o_totalprice > 1000.0) AS all_over_1k,
       bool_or(o_totalprice > 400000.0) AS any_over_400k,
       CAST(count_if(o_totalprice > 100000.0) AS BIGINT) AS n_over_100k,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


@register("agg_boolean", oracle=_BOOL_ORACLE)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates: bool_and / bool_or (ANSI EVERY/ANY) and
    count_if — the assertion-style data-quality checks ("every order
    positive", "any outlier present") pushed into one aggregation pass.
    Associative/commutative, deterministic under any partial-agg order."""
    o = load_table(spark, "orders", sf_dir)
    p = F.col("o_totalprice")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(p > 1000.0).alias("all_over_1k"),
        F.bool_or(p > 400000.0).alias("any_over_400k"),
        F.count_if(p > 100000.0).cast("bigint").alias("n_over_100k"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_SLIDING_DISTINCT_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), days AS (
  SELECT DISTINCT day FROM du
)
SELECT CAST(d.day AS VARCHAR) AS t_day,
       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_users_7d
FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
"""


@register("agg_sliding_distinct_users", oracle=_SLIDING_DISTINCT_ORACLE)
def agg_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day (rolling MAU/WAU shape) —
    COUNT(DISTINCT) over a sliding window, which no SQL window frame can
    express (DISTINCT isn't frameable) and the naive form computes as one
    self-join per day. The scalable shape is contribute-then-count:
    dedup to (day, user), explode each observation to the ≤7 target days
    it influences (a forward date `sequence` — pure arithmetic, no join),
    dedup (target_day, user) again since a user active on several source
    days still counts once, and count per target day. Three
    map-side-combinable distinct/count aggregations, zero self-joins,
    volume bounded by 7× the daily-active table — the same pattern
    extends to any trailing-k-period distinct. Target days are clamped to
    observed days with a broadcast semi-join (~30 rows). Day emitted as
    an ISO string (DATE cells cross the Spark/DuckDB pandas boundary as
    different types)."""
    ev = load_table(spark, "events", sf_dir)
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select(F.col("day").alias("t_day")).distinct()
    contrib = (
        du.select(
            F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6)))
             .alias("t_day"),
            "user_id")
        .join(F.broadcast(days), "t_day", "left_semi")
        .distinct()
    )
    return (contrib.groupBy("t_day")
            .agg(F.count(F.lit(1)).alias("n_users_7d"))
            .select(F.col("t_day").cast("string").alias("t_day"),
                    "n_users_7d"))


_LISTAGG_SPARK = """
SELECT c_mktsegment,
       listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS names,
       COUNT(*) AS n
FROM {customer} WHERE c_custkey <= 200
GROUP BY c_mktsegment
"""

_LISTAGG_ORACLE = """
SELECT c_mktsegment,
       string_agg(c_name, ',' ORDER BY c_name) AS names,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer WHERE c_custkey <= 200
GROUP BY c_mktsegment
"""


@register("agg_listagg_ordered", oracle=_LISTAGG_ORACLE)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL:2016 LISTAGG ... WITHIN GROUP,
    Spark 4): concatenate group members in a PINNED order — without the
    WITHIN GROUP clause the concatenation order is partition-arrival
    luck, the exact nondeterminism this engine's discipline forbids
    (same reason agg_collect_sorted sorts its arrays). DuckDB's dialect
    spells it string_agg(x, sep ORDER BY x) — one of the few places the
    portable-SQL twin needs different text for identical semantics.
    Scale: the per-group string grows with group size — LISTAGG is for
    bounded groups (the c_custkey cap here stands in for that contract);
    unbounded concatenation belongs in arrays/files, not a cell."""
    return spark.sql(_LISTAGG_SPARK,
                     customer=load_table(spark, "customer", sf_dir))


@register("agg_sliding_distinct_hll", oracle=None)
def agg_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day from PERSISTED per-day HLL
    sketches — the approximate twin of agg_sliding_distinct_users and
    the shape that actually survives 100 TB of history: the exact op
    re-reads 7 days of raw (day, user) observations per answer, while
    this one stores ONE mergeable sketch per day (a few KB) and answers
    any trailing window by unioning ≤7 sketches. The union runs as a
    bounded range join against the days-sized sketch store (7 tiny rows
    per output day — the raw events never move), so re-answering a year
    of rolling MAU touches 365 sketches, not the lake.

    Rows-only by design (HLL estimates are approximate); the pytest gate
    pins every day's estimate within ±5% of the exact op's answer and
    determinism across runs (sketches are deterministic for a given
    input set). Day emitted as ISO string like the exact twin."""
    ev = load_table(spark, "events", sf_dir)
    daily = (ev.select(F.to_date("ts").alias("day"), "user_id")
             .groupBy("day")
             .agg(F.hll_sketch_agg("user_id").alias("sk")))
    a, b = daily.alias("a"), daily.alias("b")
    return (a.join(b, (F.col("b.day") <= F.col("a.day"))
                   & (F.col("b.day") >= F.date_sub(F.col("a.day"), 6)))
            .groupBy(F.col("a.day").alias("t_day"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg(F.col("b.sk")))
                 .cast("bigint").alias("n_users_7d_est"))
            .select(F.col("t_day").cast("string").alias("t_day"),
                    "n_users_7d_est"))


# ---------------------------------------------------------------------------
# exact discrete percentiles
# ---------------------------------------------------------------------------

_PCTL_DISC_ORACLE = """
WITH r AS (
  SELECT c_mktsegment, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice, o_orderkey) AS rk,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment,
       MIN(o_totalprice) FILTER (WHERE rk >= (n + 1) // 2) AS p50_disc,
       MIN(o_totalprice) FILTER (WHERE rk >= (9 * n + 9) // 10) AS p90_disc,
       MIN(o_totalprice) FILTER (WHERE rk >= (99 * n + 99) // 100)
         AS p99_disc,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM r GROUP BY c_mktsegment
"""


@register("agg_percentile_disc_exact", oracle=_PCTL_DISC_ORACLE)
def agg_percentile_disc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC per market segment — the discrete complement to
    agg_percentiles' interpolated quantiles. The percentile is an ACTUAL
    data value (the one at rank ceil(p·n)), so the result is bit-exact
    with NO rounding caveat: rank thresholds are pure integer
    arithmetic (ceil(k·n/d) = (k·n + k) DIV d, valid because each
    numerator k here equals d − 1), and the pick is a conditional MIN
    over the ranked rows — identical semantics in both engines, no
    interpolation ulp to round away.

    Scale shape: one window shuffle partitioned by segment (rank + count
    share the exchange), then a combinable conditional-MIN groupBy; the
    same single-exchange shape as any partitioned ranking. A segment
    with billions of rows would switch to the two-pass bucketed rank
    (llm_shuffle_deterministic's scheme) per segment."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    wp = Window.partitionBy("c_mktsegment")
    r = j.select(
        "c_mktsegment", "o_totalprice",
        F.row_number().over(wp.orderBy("o_totalprice", "o_orderkey"))
        .alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"))
    def pick(num: int, den: int, name: str):
        # integer DIV keeps the ceil exact at any n (no double rounding)
        thresh = F.expr(f"({num} * n + {num}) div {den}")
        return F.min(F.when(F.col("rk") >= thresh,
                            F.col("o_totalprice"))).alias(name)
    return (r.groupBy("c_mktsegment")
            .agg(pick(1, 2, "p50_disc"), pick(9, 10, "p90_disc"),
                 pick(99, 100, "p99_disc"),
                 F.count(F.lit(1)).cast("bigint").alias("n_orders")))


# ---------------------------------------------------------------------------
# conditional / boolean / any_value aggregate surface
# ---------------------------------------------------------------------------

_COUNT_IF_ORACLE = """
SELECT l_returnflag,
       CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
       bool_and(l_quantity > 0) AS all_positive,
       bool_or(l_discount > 0.05) AS some_discounted,
       any_value(substring(l_returnflag, 1, 1)) AS flag_initial,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_count_if_any_value", oracle=_COUNT_IF_ORACLE)
def agg_count_if_any_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The predicate-aggregate quartet: count_if / bool_and / bool_or /
    any_value. any_value is nondeterministic BY CONTRACT (either engine
    may pick any row), so the hash-matched usage here applies it to an
    expression constant within each group — the one shape where it is
    both legal and reproducible; arbitrary-column any_value belongs
    behind min_by/max_by (agg_minmax_by) when determinism matters.

    Scale shape: all four are partial-aggregatable (AND/OR/count are
    semilattice folds), so the shuffle carries one row per group."""
    li = load_table(spark, "lineitem", sf_dir)
    return (li.groupBy("l_returnflag")
            .agg(F.count_if(F.col("l_quantity") > 25).cast("bigint")
                 .alias("n_bulk"),
                 F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
                 F.bool_or(F.col("l_discount") > 0.05)
                 .alias("some_discounted"),
                 F.any_value(F.substring("l_returnflag", 1, 1))
                 .alias("flag_initial"),
                 F.count(F.lit(1)).cast("bigint").alias("n_rows")))


# ---------------------------------------------------------------------------
# Gini impurity of categorical distributions
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH c AS (
  SELECT user_id % 50 AS bucket, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_i
  FROM events GROUP BY user_id % 50, event_type
)
SELECT bucket,
       CAST(SUM(n_i) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       1.0 - CAST(SUM(CAST(n_i AS HUGEINT) * n_i) AS DOUBLE)
           / CAST(CAST(SUM(n_i) AS HUGEINT) * SUM(n_i) AS DOUBLE) AS gini
FROM c GROUP BY bucket
"""


@register("agg_gini_impurity", oracle=_GINI_ORACLE)
def agg_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity (1 − Σpᵢ²) of each user-bucket's event-type mix —
    the category-concentration statistic behind split scoring, audience
    homogeneity, and mixture drift alerts. Chosen over Shannon entropy
    DELIBERATELY: entropy needs ln(), and libm rounding differs across
    engines, while Gini is pure integer counts until one division —
    hash-exact with no tolerance.

    Scale shape: two cascaded combinable groupBys, both shrinking
    ((bucket, type) → bucket); decimal moments so n_i² can't wrap."""
    ev = load_table(spark, "events", sf_dir)
    c = (ev.groupBy((F.col("user_id") % 50).alias("bucket"), "event_type")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_i")))
    ni = F.col("n_i").cast("decimal(19,0)")
    return (c.groupBy("bucket")
            .agg(F.sum("n_i").cast("bigint").alias("n"),
                 F.count(F.lit(1)).cast("bigint").alias("n_types"),
                 (F.lit(1.0) - F.sum(ni * ni).cast("double")
                  / (F.sum(ni) * F.sum(ni)).cast("double")).alias("gini")))


# ---------------------------------------------------------------------------
# aggregate FILTER clause
# ---------------------------------------------------------------------------

_AGG_FILTER_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT)
         AS n_big,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS cents_f,
       CAST(COUNT(*) AS BIGINT) AS n_all
FROM {src} GROUP BY o_orderpriority
"""


@register("agg_filter_clause", oracle=_AGG_FILTER_SQL.format(src="orders"))
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard-SQL `agg(...) FILTER (WHERE ...)` — per-aggregate
    predicates in one pass over the data (the ANSI form of the
    CASE-WHEN-inside-SUM idiom agg_conditional exercises through the
    DataFrame API). One scan computes differently-filtered aggregates
    side by side, which is exactly how a 100 TB segmentation report
    avoids N passes for N segments. Identical text both engines.

    Scale shape: all FILTER aggregates share one partial+final hash
    aggregate; the predicates evaluate per row map-side — no extra
    scans, no extra shuffles vs the unfiltered aggregate."""
    return spark.sql(_AGG_FILTER_SQL, src=load_table(spark, "orders", sf_dir))


# ---------------------------------------------------------------------------
# exact weighted median
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(round(l_quantity, 0) AS BIGINT) AS w
  FROM lineitem
), cum AS (
  SELECT l_returnflag, cents, w,
         CAST(SUM(w) OVER (PARTITION BY l_returnflag
                           ORDER BY cents, w
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
         CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
  FROM base
)
SELECT l_returnflag, MAX(tw) AS total_weight,
       MIN(CASE WHEN 2 * cw >= tw THEN cents END) AS weighted_median_cents
FROM cum GROUP BY l_returnflag
"""


@register("agg_weighted_median", oracle=_WMEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of line-item price, weighted by quantity,
    per return flag — the robust center for "typical unit price" where
    each row speaks for its quantity (the plain median of
    agg_mad_robust treats a 1-unit and a 50-unit line identically).
    Discrete definition: the smallest value whose cumulative weight
    reaches half the total (2·cw ≥ tw in pure integers — no halves, no
    interpolation, no floats anywhere).

    Scale shape — TWO-PASS BUCKETED cumulative (a naive per-flag
    cumulative window measured 5.1× at the 10× probe: 3 flags = 3-way
    parallelism sorting the whole corpus). Pass 1 folds weights into
    fixed-width value buckets (cents div 2¹⁶ — combinable, fully
    parallel); the cumulative scan runs over the tiny (flag × bucket)
    table to locate each flag's MEDIAN BUCKET and its preceding weight;
    pass 2 sorts ONLY inside that one bucket (~1/160th of the rows) and
    offsets its running weight by the bucket prefix. Same integer
    definition, same result, no corpus-sized single-partition sort."""
    bucket_w = 1 << 16
    li = load_table(spark, "lineitem", sf_dir)
    cents = round_cents("l_extendedprice")
    wgt = F.round(F.col("l_quantity"), 0).cast("bigint")
    base = (li.select("l_returnflag", cents.alias("cents"),
                      wgt.alias("w"))
            .withColumn("b", F.expr(f"cents div {bucket_w}"))
            .localCheckpoint(eager=False))  # both passes share it
    # pass 1: combinable bucket fold, then a cumulative scan over the
    # (flag x ~160 buckets) table
    buckets = (base.groupBy("l_returnflag", "b")
               .agg(F.sum("w").cast("bigint").alias("bw")))
    wp = Window.partitionBy("l_returnflag")
    cumb = buckets.select(
        "l_returnflag", "b", "bw",
        F.sum("bw").over(wp.orderBy("b")
                         .rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow))
        .cast("bigint").alias("cum_incl"),
        F.sum("bw").over(wp).cast("bigint").alias("tw"))
    target = (cumb.where(2 * F.col("cum_incl") >= F.col("tw"))
              .groupBy("l_returnflag")
              .agg(F.min_by(F.struct("b", "cum_incl", "bw", "tw"),
                            F.col("b")).alias("t"))
              .select("l_returnflag", F.col("t.b").alias("tb"),
                      (F.col("t.cum_incl") - F.col("t.bw"))
                      .alias("cum_before"),
                      F.col("t.tw").alias("tw")))
    # pass 2: cumulative only inside each flag's median bucket
    inb = (base.join(F.broadcast(target), "l_returnflag")
           .where(F.col("b") == F.col("tb")))
    cw = (F.col("cum_before")
          + F.sum("w").over(wp.orderBy("cents", "w")
                            .rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow))
          .cast("bigint"))
    return (inb.select("l_returnflag", "cents", "tw", cw.alias("cw"))
            .groupBy("l_returnflag")
            .agg(F.max("tw").alias("total_weight"),
                 F.min(F.when(2 * F.col("cw") >= F.col("tw"),
                              F.col("cents")))
                 .alias("weighted_median_cents")))


# ---------------------------------------------------------------------------
# revenue concentration: HHI + CR-k
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev, row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk
  FROM cust
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(rev) AS BIGINT) AS total_cents,
       -- HHI = sum(share^2) == sum(rev^2)/total^2: exact integers until
       -- ONE final division; the square sum rides HUGEINT/decimal(38,0)
       -- (rev^2 overflows int64 -- the wide-decimal moment discipline)
       CAST(SUM(CAST(rev AS HUGEINT) * rev) AS DOUBLE)
         / (CAST(SUM(rev) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE)) AS hhi,
       CAST(SUM(CASE WHEN rk <= 10 THEN rev ELSE 0 END) AS DOUBLE)
         / CAST(SUM(rev) AS DOUBLE) AS cr10
FROM ranked
"""


@register("agg_concentration_hhi_crk", oracle=_HHI_ORACLE)
def agg_concentration_hhi_crk(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Revenue concentration: the Herfindahl-Hirschman index and CR-10
    (top-10-customer revenue share) over per-customer spend -- the
    customer-concentration risk numbers a revenue review reads before
    trusting any average. HHI's float hazard (summing thousands of
    squared shares) disappears through the identity
    sum(share_i^2) = sum(rev_i^2)/total^2: both sums are exact BIGINTs
    off one combinable fold, and the single division happens once. CR-10
    ranks on the (rev desc, custkey) total order.

    Scale shape: customer-grain groupBy (40x smaller than orders), one
    combinable moment fold; CR-10's numerator is a TakeOrdered top-10
    head (sort-limit fuses to per-partition heaps + a 10-row merge —
    the swap that retires the full global rank window entirely),
    broadcast back beside the one-row moment fold."""
    o = load_table(spark, "orders", sf_dir)
    cents = round_cents("o_totalprice")
    cust = o.groupBy("o_custkey").agg(
        F.sum(cents).cast("bigint").alias("rev"))
    top10 = (cust.orderBy(F.col("rev").desc(), "o_custkey").limit(10)
             .agg(F.sum("rev").cast("bigint").alias("top_rev")))
    moments = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev").cast("bigint").alias("total_cents"),
        F.sum(F.col("rev").cast("decimal(38,0)") * F.col("rev"))
        .alias("sq"))
    return (moments.crossJoin(F.broadcast(top10))
            .select("n_customers", "total_cents",
                    (F.col("sq").cast("double")
                     / (F.col("total_cents").cast("double")
                        * F.col("total_cents").cast("double")))
                    .alias("hhi"),
                    (F.col("top_rev").cast("double")
                     / F.col("total_cents").cast("double")).alias("cr10")))


# ---------------------------------------------------------------------------
# hierarchical ratio-to-parent rollup
# ---------------------------------------------------------------------------

_HIER_ORACLE = """
WITH nat AS (
  SELECT n.n_regionkey, c.c_nationkey,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, c.c_nationkey
)
SELECT r.r_name AS region, nn.n_name AS nation, nat.rev AS rev_cents,
       CAST(nat.rev AS DOUBLE)
         / CAST(SUM(nat.rev) OVER (PARTITION BY nat.n_regionkey)
                AS DOUBLE) AS share_of_region,
       CAST(SUM(nat.rev) OVER (PARTITION BY nat.n_regionkey) AS DOUBLE)
         / CAST(SUM(nat.rev) OVER () AS DOUBLE) AS region_share_of_total
FROM nat
JOIN nation nn ON nat.c_nationkey = nn.n_nationkey
JOIN region r ON nat.n_regionkey = r.r_regionkey
"""


@register("agg_hierarchy_share_rollup", oracle=_HIER_ORACLE)
def agg_hierarchy_share_rollup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Hierarchical ratio-to-parent: every nation's revenue as a share
    of ITS REGION, and every region's share of the grand total, in one
    table -- the drill-down tree a BI layer renders as nested bars
    (win_pct_of_total does one level; this composes the two-level
    geography). Revenue folds to the 25-nation grain first; both share
    levels are windows over that tiny table; exact cents until the two
    divisions.

    Scale shape: one combinable fact fold to 25 rows (dims broadcast);
    windows and dimension joins run entirely on the 25-row table."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir) \
        .select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    cents = round_cents("o_totalprice")
    nat = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .join(F.broadcast(n),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .groupBy("n_regionkey", "c_nationkey")
           .agg(F.sum(cents).cast("bigint").alias("rev")))
    wr = Window.partitionBy("n_regionkey")
    wall = Window.partitionBy()
    shares = nat.select(
        "n_regionkey", "c_nationkey", "rev",
        (F.col("rev").cast("double")
         / F.sum("rev").over(wr).cast("double")).alias("share_of_region"),
        (F.sum("rev").over(wr).cast("double")
         / F.sum("rev").over(wall).cast("double"))
        .alias("region_share_of_total"))
    return (shares
            .join(F.broadcast(n.select("n_nationkey", "n_name")),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(r),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .select(F.col("r_name").alias("region"),
                    F.col("n_name").alias("nation"),
                    F.col("rev").alias("rev_cents"),
                    "share_of_region", "region_share_of_total"))


# ---------------------------------------------------------------------------
# Pareto cutoff point
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev,
         row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk,
         CAST(SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_rev,
         CAST(SUM(rev) OVER () AS BIGINT) AS total,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM cust
)
SELECT CAST(MIN(rk) AS BIGINT) AS k_customers,
       MAX(n) AS n_customers,
       CAST(MIN(rk) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
         AS customer_share,
       -- integer-safe 80% test: 5*cum >= 4*total
       0.8 AS revenue_share_target
FROM ranked WHERE 5 * cum_rev >= 4 * total
"""


@register("agg_pareto_cutoff", oracle=_PARETO_ORACLE)
def agg_pareto_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto cutoff: the smallest k such that the top-k customers
    (by revenue, custkey tie-break) cover >= 80% of total revenue --
    the is-it-really-80/20 check behind agg_concentration_hhi_crk's
    summary indices, reported as k and its share of the customer base.
    The 80% test is INTEGER-safe (5*cum >= 4*total -- no float
    threshold anywhere); the pick is a conditional MIN over ranks.

    Scale shape: customer-grain fold, then the two-pass bucketed
    rank+cumsum (bucketed.py — revenue buckets, broadcast prefix
    offsets; no single-partition window even at fact-scale customer
    counts); totals broadcast back as one
    row; one fold to a single row."""
    o = load_table(spark, "orders", sf_dir)
    cents = round_cents("o_totalprice")
    cust = o.groupBy("o_custkey").agg(
        F.sum(cents).cast("bigint").alias("rev"))
    tot = cust.agg(F.sum("rev").cast("bigint").alias("total"),
                   F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (bucketed_order(cust, "rev", ["o_custkey"], descending=True,
                             rank_col="rk", cumsum={"cum_rev": "rev"})
              .crossJoin(F.broadcast(tot))
              .select("rk", "cum_rev", "total", "n"))
    return (ranked.where(5 * F.col("cum_rev") >= 4 * F.col("total"))
            .agg(F.min("rk").cast("bigint").alias("k_customers"),
                 F.max("n").alias("n_customers"),
                 (F.min("rk").cast("double") / F.max("n").cast("double"))
                 .alias("customer_share"),
                 F.lit(0.8).alias("revenue_share_target")))


# ---------------------------------------------------------------------------
# new-vs-returning revenue split
# ---------------------------------------------------------------------------

_NVR_ORACLE = """
WITH firsts AS (
  SELECT user_id, strftime(CAST(MIN(ts) AS DATE), '%Y-%m-%d') AS first_day
  FROM events GROUP BY user_id
), daily AS (
  SELECT strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS day,
         f.first_day = strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS is_new,
         CAST(round(e.value * 100, 0) AS BIGINT) AS cents
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
)
SELECT day,
       CAST(SUM(CASE WHEN is_new THEN cents ELSE 0 END) AS BIGINT)
         AS new_user_cents,
       CAST(SUM(CASE WHEN is_new THEN 0 ELSE cents END) AS BIGINT)
         AS returning_cents,
       CAST(COUNT(*) FILTER (WHERE is_new) AS BIGINT) AS n_new_purchases,
       CAST(COUNT(*) FILTER (WHERE NOT is_new) AS BIGINT)
         AS n_returning_purchases
FROM daily GROUP BY day
"""


@register("agg_new_vs_returning_daily", oracle=_NVR_ORACLE)
def agg_new_vs_returning_daily(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Daily purchase revenue split by NEW vs RETURNING users (new =
    purchasing on their first-ever active day) -- the growth-vs-base
    decomposition every revenue dashboard leads with, and the
    seq_growth_accounting_weekly companion at the money grain. One
    user-grain first-day fold, one user-keyed join back, exact cents;
    days project yyyy-MM-dd (portable projection).

    Scale shape: combinable first-day fold; user-keyed equi-join (both
    sides hash the same key); combinable daily rollup."""
    ev = load_table(spark, "events", sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("first_day"))
    cents = round_cents("value")
    daily = (ev.where(F.col("event_type") == "purchase")
             .join(firsts, "user_id")
             .select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                     (F.col("first_day")
                      == F.date_format("ts", "yyyy-MM-dd"))
                     .alias("is_new"),
                     cents.alias("cents")))
    return (daily.groupBy("day")
            .agg(F.sum(F.when(F.col("is_new"), F.col("cents"))
                       .otherwise(F.lit(0))).cast("bigint")
                 .alias("new_user_cents"),
                 F.sum(F.when(F.col("is_new"), F.lit(0))
                       .otherwise(F.col("cents"))).cast("bigint")
                 .alias("returning_cents"),
                 F.count(F.when(F.col("is_new"), 1)).cast("bigint")
                 .alias("n_new_purchases"),
                 F.count(F.when(~F.col("is_new"), 1)).cast("bigint")
                 .alias("n_returning_purchases")))


# ---------------------------------------------------------------------------
# cohort LTV curve
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
  FROM firsts GROUP BY cohort_week
), rev AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week,
                        date_trunc('week', e.ts)) // 7 AS BIGINT)
           AS age_weeks,
         CAST(SUM(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY f.cohort_week, date_diff('day', f.cohort_week,
                                    date_trunc('week', e.ts)) // 7
), cum AS (
  SELECT cohort_week, age_weeks,
         CAST(SUM(cents) OVER (PARTITION BY cohort_week ORDER BY age_weeks
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_cents
  FROM rev
)
SELECT c.cohort_week, c.age_weeks, s.cohort_users, c.cum_cents,
       CAST(c.cum_cents AS DOUBLE) / CAST(s.cohort_users AS DOUBLE)
         / 100.0 AS ltv_dollars_per_user
FROM cum c JOIN sizes s ON c.cohort_week = s.cohort_week
"""


@register("agg_cohort_ltv_curve", oracle=_LTV_ORACLE)
def agg_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative purchase revenue PER USER by
    (signup-week cohort, weeks since signup) -- retention_cohorts'
    money-grain sibling and the payback-period input every acquisition
    budget is set against (which week does cumulative LTV cross CAC?).
    Cohort assignment is the user's first-ever week; age buckets are
    integer week differences; cumulative cents ride an exact window
    over the cohort-age grid; the single division normalizes per
    cohort user.

    Scale shape: user-grain first-week fold; user-keyed join back;
    (cohort, age) rollup is calendar-squared-bounded, and the cumsum
    runs over that tiny grid."""
    ev = load_table(spark, "events", sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users"))
    cents = round_cents("value")
    rev = (ev.where(F.col("event_type") == "purchase")
           .join(firsts, "user_id")
           .groupBy("cohort_week",
                    F.floor(F.datediff(
                        F.date_trunc("week", "ts"),
                        F.col("cohort_week")) / 7).cast("bigint")
                    .alias("age_weeks"))
           .agg(F.sum(cents).cast("bigint").alias("cents")))
    wc = (Window.partitionBy("cohort_week").orderBy("age_weeks")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = rev.select("cohort_week", "age_weeks",
                     F.sum("cents").over(wc).cast("bigint")
                     .alias("cum_cents"))
    return (cum.join(sizes, "cohort_week")
            .select("cohort_week", "age_weeks", "cohort_users",
                    "cum_cents",
                    (F.col("cum_cents").cast("double")
                     / F.col("cohort_users").cast("double")
                     / F.lit(100.0)).alias("ltv_dollars_per_user")))


# ---------------------------------------------------------------------------
# ABC inventory classification
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH part_rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT rev,
         CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_rev,
         CAST(SUM(rev) OVER () AS BIGINT) AS total
  FROM part_rev
), classed AS (
  -- integer-safe class edges: A <= 80%, B <= 95% (5*cum vs 4*total;
  -- 20*cum vs 19*total)
  SELECT rev,
         CASE WHEN 5 * cum_rev <= 4 * total THEN 'A'
              WHEN 20 * cum_rev <= 19 * total THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS revenue_cents,
       CAST(SUM(rev) AS DOUBLE)
         / CAST(MAX((SELECT total FROM ranked LIMIT 1)) AS DOUBLE)
         AS revenue_share
FROM classed GROUP BY abc
"""


@register("agg_abc_classification", oracle=_ABC_ORACLE)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by revenue: A-class up to
    the 80% cumulative-revenue edge, B to 95%, C the tail -- the
    supply-chain attention allocator (count A-parts daily, C-parts
    yearly) and the item-grain sibling of agg_pareto_cutoff. Class
    edges are INTEGER-safe cross-multiplications (5*cum <= 4*total,
    20*cum <= 19*total) on the (revenue desc, partkey) total order; no
    float threshold anywhere, one share division per class.

    Scale shape: part-grain fold (30x smaller than lineitem), then the
    two-pass bucketed cumsum over the part table (bucketed.py — no
    single-partition window at any part count), 3-row rollup."""
    li = load_table(spark, "lineitem", sf_dir)
    cents = round_cents("l_extendedprice")
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(cents).cast("bigint").alias("rev"))
    tot = part_rev.agg(F.sum("rev").cast("bigint").alias("total"))
    ranked = (bucketed_order(part_rev, "rev", ["l_partkey"],
                             descending=True, cumsum={"cum_rev": "rev"})
              .crossJoin(F.broadcast(tot))
              .select("rev", "cum_rev", "total"))
    abc = (F.when(5 * F.col("cum_rev") <= 4 * F.col("total"), F.lit("A"))
           .when(20 * F.col("cum_rev") <= 19 * F.col("total"), F.lit("B"))
           .otherwise(F.lit("C")))
    return (ranked.select(abc.alias("abc"), "rev", "total")
            .groupBy("abc")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"),
                 F.sum("rev").cast("bigint").alias("revenue_cents"),
                 (F.sum("rev").cast("double")
                  / F.max("total").cast("double")).alias("revenue_share")))


# ---------------------------------------------------------------------------
# repeat-purchase rate by segment
# ---------------------------------------------------------------------------

_REPEAT_ORACLE = """
WITH per_cust AS (
  SELECT c.c_mktsegment, o.o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, o.o_custkey
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_buyers,
       CAST(COUNT(*) FILTER (WHERE n_orders >= 2) AS BIGINT)
         AS n_repeat_buyers,
       CAST(COUNT(*) FILTER (WHERE n_orders >= 2) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS repeat_rate
FROM per_cust GROUP BY c_mktsegment
"""


@register("agg_repeat_purchase_rate", oracle=_REPEAT_ORACLE)
def agg_repeat_purchase_rate(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Repeat-purchase rate per market segment: share of buyers with a
    second order -- the one-number loyalty readout every retention
    budget starts from, and the denominator discipline matters (buyers,
    not customers: never-buyers dilute the rate into meaninglessness).
    One customer-grain count fold, one segment rollup, exact integers
    and a single division.

    Scale shape: customer-keyed fold (combinable), broadcast dim join,
    5-row rollup."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir) \
        .select("c_custkey", "c_mktsegment")
    per_cust = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
                .groupBy("c_mktsegment", "o_custkey")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders")))
    return (per_cust.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_buyers"),
                 F.count(F.when(F.col("n_orders") >= 2, 1)).cast("bigint")
                 .alias("n_repeat_buyers"),
                 (F.count(F.when(F.col("n_orders") >= 2, 1)).cast("double")
                  / F.count(F.lit(1)).cast("double"))
                 .alias("repeat_rate")))
