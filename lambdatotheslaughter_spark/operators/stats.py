"""Statistical-inference and ML-evaluation operators (SURVEY.md §2.16).

The batch layer of a lambda pipeline is where A/B readouts, drift checks
and data-quality audits run; the representatives here are the classical
two-sample tests (Welch t, Kolmogorov–Smirnov), association measures
(mutual information next to the existing χ² cells), a fraud/staleness
screen (Benford first-digit), and an inequality rollup (Gini over
customer spend).

Determinism discipline (the agg_skew_kurt_exact precedent): every
statistic is assembled from EXACT integer power sums (cents as
BIGINT/decimal), combined in a DOUBLE expression tree spelled
IDENTICALLY in the Spark query and the DuckDB oracle — each step one
correctly-rounded IEEE op, so results are bit-identical with no
tolerance. Transcendentals (ln/log10) are the one non-portable step
(libm vs java.lang.Math are both ≤1 ulp but not correctly rounded), so
any column that passes through them rounds to 6 dp, the regr_*/zipf
precedent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.bucketed import bucketed_order
from lambdatotheslaughter_spark.determinism import (
    central_moments, centered_ss, mean_var_pop, ordered_fold,
    pearson_finish, pearson_from_sums, power_sums, round_cents, sample_var,
    two_group_moments, two_group_sums, wide_power_sums)
from lambdatotheslaughter_spark.operators.streaming_twins import (
    sprt_daily_counts)
from lambdatotheslaughter_spark.operators.timeseries import (
    _ACF_ORACLE, click_purchase_events, hour_indexed_cents, hourly_cents,
    hourly_counts, ts_acf_multi_lag)
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table


def _purchase_scores(spark: SparkSession, sf_dir: str,
                     *extra: Column | str) -> DataFrame:
    """(pos, xc, *extra) over the click and purchase events: the purchase
    label and the value in whole cents, the score the click-vs-purchase
    classifier metrics rank by."""
    return click_purchase_events(spark, sf_dir).select(
        (F.col("event_type") == "purchase").alias("pos"),
        round_cents("value").alias("xc"), *extra)


def _purchase_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(xc, t, p): the score sample folded to its value domain, with t
    events and p purchases per distinct score."""
    return (_purchase_scores(spark, sf_dir).groupBy("xc")
            .agg(F.count(F.lit(1)).cast("bigint").alias("t"),
                 F.count(F.when(F.col("pos"), 1)).cast("bigint").alias("p")))


def _rank_sum_auc() -> Column:
    """AUC from the doubled positive rank sum sr2 and the class counts:
    (sr2 - n_pos(n_pos + 1)) / (2 n_pos n_neg)."""
    return ((F.col("sr2") - F.col("n_pos") * (F.col("n_pos") + 1))
            .cast("double")
            / (F.lit(2.0) * F.col("n_pos").cast("double")
               * F.col("n_neg").cast("double")))

# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test (click vs purchase event values)
# ---------------------------------------------------------------------------

_WELCH_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), s AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n1,
    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n2,
    CAST(SUM(xc) FILTER (WHERE event_type = 'click') AS BIGINT) AS s1a,
    CAST(SUM(xc * xc) FILTER (WHERE event_type = 'click') AS BIGINT) AS s2a,
    CAST(SUM(xc) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS s1b,
    CAST(SUM(xc * xc) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS s2b
  FROM c
), t AS (
  SELECT n1, n2,
         CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
         CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         CAST(s2a AS DOUBLE) / CAST(n1 AS DOUBLE) AS e2a,
         CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         CAST(s2b AS DOUBLE) / CAST(n2 AS DOUBLE) AS e2b
  FROM s
), v AS (
  SELECT n1, n2, n1d, n2d, m1, m2,
         (e2a - m1 * m1) * (n1d / (n1d - 1.0)) AS v1,
         (e2b - m2 * m2) * (n2d / (n2d - 1.0)) AS v2
  FROM t
)
SELECT n1 AS n_click, n2 AS n_purchase,
       (m1 - m2) / 100.0 AS mean_diff_dollars,
       (m1 - m2) / sqrt(v1 / n1d + v2 / n2d) AS t_stat,
       (v1 / n1d + v2 / n2d) * (v1 / n1d + v2 / n2d)
         / ((v1 / n1d) * (v1 / n1d) / (n1d - 1.0)
            + (v2 / n2d) * (v2 / n2d) / (n2d - 1.0)) AS welch_df
FROM v
"""


@register("stat_welch_ttest", oracle=_WELCH_ORACLE)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between click and purchase event
    values — the A/B readout that does NOT assume pooled variance, so a
    heavier-tailed treatment arm cannot fake significance through the
    variance estimate. Two-sided t statistic plus the Welch–Satterthwaite
    effective df, assembled from exact integer cent sums (n, Σx, Σx² per
    arm) through an expression tree written identically in both engines:
    sample variance as (E[x²] − m²)·n/(n−1), standard error as
    √(v₁/n₁ + v₂/n₂). t and df are scale-invariant so computing in cents
    equals computing in dollars; the reported mean gap converts /100 at
    the end.

    Scale shape: ONE combinable conditional aggregate over the event
    scan (six FILTER sums) to a single row — the cheapest possible
    two-sample test at any corpus size; no shuffle carries more than the
    six partials per partition."""
    ev = click_purchase_events(spark, sf_dir)
    xc = round_cents("value")
    s = two_group_sums(ev, xc, F.col("event_type") == "click",
                       F.col("event_type") == "purchase")
    n1d, n2d, m1, m2, v1, v2 = two_group_moments()
    se2 = v1 / n1d + v2 / n2d
    return s.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_purchase"),
        ((m1 - m2) / F.lit(100.0)).alias("mean_diff_dollars"),
        ((m1 - m2) / F.sqrt(se2)).alias("t_stat"),
        (se2 * se2 / ((v1 / n1d) * (v1 / n1d) / (n1d - F.lit(1.0))
                      + (v2 / n2d) * (v2 / n2d) / (n2d - F.lit(1.0))))
        .alias("welch_df"))


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample distance (click vs purchase)
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v
  FROM events WHERE event_type IN ('click', 'purchase')
), pts AS (
  SELECT v,
         CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS c1,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS c2
  FROM c GROUP BY v
), cum AS (
  SELECT
    CAST(SUM(c1) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
    CAST(SUM(c2) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2,
    CAST(SUM(c1) OVER () AS BIGINT) AS n1,
    CAST(SUM(c2) OVER () AS BIGINT) AS n2
  FROM pts
)
SELECT MAX(n1) AS n_click, MAX(n2) AS n_purchase,
       MAX(abs(cum1 * n2 - cum2 * n1)) AS d_num,
       CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
         / (CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE)) AS ks_d
FROM cum
"""


@register("stat_ks_two_sample", oracle=_KS_ORACLE)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the click and
    purchase value distributions — the nonparametric drift detector a
    data-quality gate runs between ingestion batches. EXACT integer
    formulation: at each distinct cent value, D's numerator is
    |cum₁·n₂ − cum₂·n₁| (supremum over the merged support), so the
    entire sup runs in BIGINT and only the final D = num/(n₁·n₂)
    division touches floating point — one correctly-rounded op, no
    tolerance needed. (The cross products stay under 2⁶³ until both
    arms exceed ~3·10⁹ rows; past that the same sums lift to
    decimal(38,0)/HUGEINT unchanged.)

    Scale shape: the groupBy collapses the scan to DISTINCT cent values
    (bounded by the value domain — 17.8k points at sf0.1 — not by row
    count), so the one global cumulative window runs over a
    domain-sized, not corpus-sized, table; the documented 100 TB swap
    for a wide domain is the two-pass bucketed rank used by
    llm_shuffle_deterministic."""
    ev = click_purchase_events(spark, sf_dir)
    v = round_cents("value")
    pts = (ev.select(v.alias("v"), "event_type")
           .groupBy("v")
           .agg(F.count(F.when(F.col("event_type") == "click", 1))
                .cast("bigint").alias("c1"),
                F.count(F.when(F.col("event_type") == "purchase", 1))
                .cast("bigint").alias("c2")))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    wall = Window.partitionBy()
    cum = pts.select(
        F.sum("c1").over(wcum).cast("bigint").alias("cum1"),
        F.sum("c2").over(wcum).cast("bigint").alias("cum2"),
        F.sum("c1").over(wall).cast("bigint").alias("n1"),
        F.sum("c2").over(wall).cast("bigint").alias("n2"))
    num = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    return cum.agg(
        F.max("n1").alias("n_click"),
        F.max("n2").alias("n_purchase"),
        F.max(num).alias("d_num"),
        (F.max(num).cast("double")
         / (F.max("n1").cast("double") * F.max("n2").cast("double")))
        .alias("ks_d"))


# ---------------------------------------------------------------------------
# Mutual information cells (event_type × user bucket)
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH cells AS (
  SELECT event_type, CAST(user_id % 3 AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY event_type, CAST(user_id % 3 AS BIGINT)
), tot AS (
  SELECT event_type, bucket, obs,
         CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
         CAST(SUM(obs) OVER (PARTITION BY bucket) AS BIGINT) AS col_n,
         CAST(SUM(obs) OVER () AS BIGINT) AS grand_n
  FROM cells
)
SELECT event_type, bucket, obs, row_n, col_n,
       round((CAST(obs AS DOUBLE) / CAST(grand_n AS DOUBLE))
             * ln(CAST(obs * grand_n AS DOUBLE)
                  / CAST(row_n * col_n AS DOUBLE)), 6) AS mi_contrib
FROM tot
"""


@register("stat_mutual_information", oracle=_MI_ORACLE)
def stat_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information contributions for the same event_type ×
    user-bucket contingency table as stat_chi_square_independence — the
    information-theoretic association measure next to the χ² one, per
    cell (p(x,y)·ln(p(x,y)/(p(x)p(y)))) rather than summed, because a
    cross-cell float sum is association-order-dependent. The log's
    argument is the exact integer ratio obs·grand/(row·col) lifted to
    double; ln itself is the one ≤1-ulp-divergent step (libm vs
    java.lang.Math), so mi_contrib rounds to 6 dp, the zipf/regr
    precedent. Marginals ship as exact BIGINTs.

    Scale shape: one combinable groupBy to the 15-cell table; marginals
    are windows OVER the cell table (data-size-free); nothing after the
    first aggregate depends on corpus size."""
    ev = load_table(spark, "events", sf_dir)
    cells = (ev.groupBy("event_type",
                        (F.col("user_id") % 3).cast("bigint").alias("bucket"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("obs")))
    tot = cells.select(
        "event_type", "bucket", "obs",
        F.sum("obs").over(Window.partitionBy("event_type"))
        .cast("bigint").alias("row_n"),
        F.sum("obs").over(Window.partitionBy("bucket"))
        .cast("bigint").alias("col_n"),
        F.sum("obs").over(Window.partitionBy()).cast("bigint")
        .alias("grand_n"))
    return tot.select(
        "event_type", "bucket", "obs", "row_n", "col_n",
        F.round((F.col("obs").cast("double")
                 / F.col("grand_n").cast("double"))
                * F.log((F.col("obs") * F.col("grand_n")).cast("double")
                        / (F.col("row_n") * F.col("col_n")).cast("double")),
                6).alias("mi_contrib"))


# ---------------------------------------------------------------------------
# Benford first-digit audit (order totals)
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
), c AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS obs FROM d GROUP BY digit
), t AS (
  SELECT digit, obs, CAST(SUM(obs) OVER () AS BIGINT) AS total FROM c
)
SELECT digit, obs,
       round(CAST(obs AS DOUBLE) / CAST(total AS DOUBLE), 6) AS obs_share,
       round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_share,
       round(CAST(obs AS DOUBLE) / CAST(total AS DOUBLE), 6)
         - round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS excess
FROM t
"""


@register("stat_benford_first_digit", oracle=_BENFORD_ORACLE)
def stat_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data / unit-mixup screen a finance-grade pipeline runs on
    every new feed. The first significant digit comes from the DECIMAL
    STRING of the exact cent amount (substr of the bigint's varchar —
    no float log10 in the digit extraction, so digit assignment is
    exact); observed shares and the Benford expectation
    log10(1 + 1/d) round to 6 dp (shares are rationals; log10 is the
    ≤1-ulp transcendental), and the excess column subtracts the two
    ALREADY-ROUNDED doubles — identical inputs, identical IEEE subtract.

    Scale shape: pure map-side digit extraction, one combinable groupBy
    to ≤9 rows, share windows over the 9-row table — nothing downstream
    of the scan scales with the corpus."""
    o = load_table(spark, "orders", sf_dir)
    cents = round_cents("o_totalprice")
    digit = F.substring(cents.cast("string"), 1, 1).cast("bigint")
    c = (o.select(digit.alias("digit"))
         .groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("obs")))
    t = c.select("digit", "obs",
                 F.sum("obs").over(Window.partitionBy()).cast("bigint")
                 .alias("total"))
    share = F.round(F.col("obs").cast("double")
                    / F.col("total").cast("double"), 6)
    benford = F.round(F.log10(F.lit(1.0)
                              + F.lit(1.0) / F.col("digit").cast("double")),
                      6)
    return t.select("digit", "obs", share.alias("obs_share"),
                    benford.alias("benford_share"),
                    (share - benford).alias("excess"))


# ---------------------------------------------------------------------------
# Gini coefficient of customer spend
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rk
  FROM spend
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         CAST(SUM(rk * cents) AS BIGINT) AS weighted
  FROM ranked
)
SELECT n AS n_customers, total_cents,
       (2.0 * CAST(weighted AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(total_cents AS DOUBLE))
         - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
FROM s
"""


@register("stat_gini_coefficient", oracle=_GINI_ORACLE)
def stat_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend — the single-number
    concentration readout ("do 1% of customers carry 50% of revenue?")
    next to agg_gini_impurity's classification-split variant. Uses the
    rank formulation G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n over spend sorted
    ascending (ties broken by custkey, so the rank — and therefore the
    weighted sum — is deterministic: equal-spend permutations leave
    Σ i·xᵢ unchanged only in aggregate, the explicit tiebreak makes the
    per-row products identical too). All sums are exact BIGINT cents;
    only the final three-op expression tree touches doubles.

    Scale shape: one combinable groupBy to customer grain, then the
    two-pass bucketed rank over the customer table (bucketed.py —
    spend-cents buckets, broadcast prefix offsets; zero
    single-partition windows even if customer counts reach fact
    scale)."""
    o = load_table(spark, "orders", sf_dir)
    cents = round_cents("o_totalprice")
    spend = (o.groupBy("o_custkey")
             .agg(F.sum(cents).cast("bigint").alias("cents")))
    ranked = bucketed_order(spend, "cents", ["o_custkey"],
                            rank_col="rk").select("cents", "rk")
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.col("rk") * F.col("cents")).cast("bigint").alias("weighted"))
    nd = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_customers"),
        "total_cents",
        ((F.lit(2.0) * F.col("weighted").cast("double"))
         / (nd * F.col("total_cents").cast("double"))
         - (nd + F.lit(1.0)) / nd).alias("gini"))


# ---------------------------------------------------------------------------
# deterministic Poisson bootstrap CI
# ---------------------------------------------------------------------------

# Poisson(1) CDF thresholds in 2^-32 units: weight k iff
# t_{k-1} <= u32 < t_k (u32 uniform on [0, 2^32) from md5 bits). Pure
# integer comparisons — the float CDF appears only in these frozen
# literals, never at query time.
_POIS_T = (1580030168, 3160060337, 3950075421,
           4213413783, 4279248373, 4292415291)
_BOOT_B = 64
_BOOT_LO_RANK = 2    # ceil(0.025 * 64)
_BOOT_HI_RANK = 63   # ceil(0.975 * 64)


def _boot_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T))
    return f"CASE {branches} ELSE {len(_POIS_T)} END"


def _md5_replicates(spark: SparkSession, base: DataFrame, n_reps: int
                    ) -> tuple[DataFrame, list[tuple[Column, Column]]]:
    """Deterministic resampling randomness for ``n_reps`` replicates of
    ``base`` (event_id, cents, ...). Returns the (cents, g, h0, h1) fan-out
    — one row per (base row, replicate group g) — and, for each of the
    four draws a digest carries, the column pair (b, u): the replicate
    id b = 4g + j and its u32 draw u, for the caller to explode.

    One md5(event_id:g) per (row, replicate GROUP): a 128-bit digest
    carries FOUR independent u32 draws (hex chars 1-8, 9-16, 17-24,
    25-32), so a replicate costs a quarter of an md5 — the md5 fan-out
    dominates these queries (one draw per md5 measured 7.9 s at sf0.1
    for stat_bh_fdr_permutation). conv() then dominated the stage: four
    8-hex-char parses per digest cost ~2.4 s of that key's 7.5 s at
    sf0.1. So each digest HALF is parsed once (16 hex chars -> one
    bigint; toBase -10 = signed 64-bit so the string always casts
    exactly, and the two's-complement bits are the same bits) and split
    into its two u32 draws with shift/mask bit ops: half the conv calls,
    identical u32 values."""
    groups = spark.range(n_reps // 4).toDF("g")
    m = F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":"),
                       F.col("g").cast("string")))
    half = [F.conv(F.substring("m", 1 + 16 * h, 16), 16, -10)
            .cast("bigint").alias(f"h{h}") for h in range(2)]
    u_of = [F.shiftrightunsigned("h0", 32),
            F.col("h0").bitwiseAND(F.lit(4294967295)),
            F.shiftrightunsigned("h1", 32),
            F.col("h1").bitwiseAND(F.lit(4294967295))]
    digests = (base.crossJoin(F.broadcast(groups))
               .select("cents", m.alias("m"), "g")
               .select("cents", "g", *half))
    return digests, [((F.col("g") * 4 + j).cast("bigint").alias("b"),
                      u.cast("bigint")) for j, u in enumerate(u_of)]


_BOOT_ORACLE = f"""
WITH base AS (
  SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), grp AS (
  SELECT CAST(unnest(range({_BOOT_B // 4})) AS BIGINT) AS g
), digests AS (
  -- one md5 per (row, group); each digest yields FOUR u32 draws
  SELECT base.cents, grp.g,
         md5(concat(CAST(base.event_id AS VARCHAR), ':',
                    CAST(grp.g AS VARCHAR))) AS m
  FROM base CROSS JOIN grp
), js AS (
  SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS j
), weighted AS (
  SELECT digests.g * 4 + js.j AS b, digests.cents,
         {_boot_weight_sql("CAST(concat('0x', substring(digests.m, "
                           "CAST(1 + 8 * js.j AS INTEGER), 8)) AS BIGINT)")}
           AS w
  FROM digests CROSS JOIN js
), means AS (
  SELECT b,
         CAST(CAST(SUM(w * cents) AS BIGINT) AS DOUBLE)
           / CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) AS m
  FROM weighted GROUP BY b
), ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM means
), ci AS (
  SELECT MIN(CASE WHEN rk = {_BOOT_LO_RANK} THEN m END) AS lo,
         MIN(CASE WHEN rk = {_BOOT_HI_RANK} THEN m END) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n_reps
  FROM ranked
), pt AS (
  SELECT CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS m0
  FROM base
)
SELECT n_reps,
       m0 / 100.0 AS est_mean_dollars,
       lo / 100.0 AS ci_lo_dollars,
       hi / 100.0 AS ci_hi_dollars
FROM ci CROSS JOIN pt
"""


@register("stat_bootstrap_poisson_ci", oracle=_BOOT_ORACLE)
def stat_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean purchase value — the
    distributed bootstrap (each row draws an independent Poisson(1)
    resample weight per replicate, so no replicate ever needs a
    row-count barrier or a shared sample index: the streaming-friendly
    formulation MapReduce bootstrap papers standardized). Replicate
    randomness is DETERMINISTIC: u32 from md5(event_id:replicate) bits,
    weight from frozen INTEGER CDF thresholds (the float Poisson CDF
    exists only in the six pasted literals) — both engines draw
    bit-identical weights, so every replicate mean is one int/int
    division and the rank-picked 2.5%/97.5% bounds hash-match exactly.

    Scale shape: the ×64 replicate fan-out is map-side (broadcast of a
    64-row spine); each replicate folds to two BIGINT partials in ONE
    combinable groupBy — 100 TB cost is 64 weighted sums, not 64 corpus
    copies; the rank window runs over 64 rows."""
    ev = load_table(spark, "events", sf_dir) \
        .where(F.col("event_type") == "purchase")
    base = ev.select(
        "event_id",
        round_cents("value").alias("cents"))

    def pois_w(u):
        w = F.when(u < _POIS_T[0], 0)
        for k, t in enumerate(_POIS_T[1:], start=1):
            w = w.when(u < t, k)
        return w.otherwise(len(_POIS_T))

    digests, b_u = _md5_replicates(spark, base, _BOOT_B)
    draws = F.array(*[F.struct(b, pois_w(u).alias("w")) for b, u in b_u])
    weighted = (digests
                .select("cents", F.explode(draws).alias("dr"))
                .select(F.col("dr.b").alias("b"), "cents",
                        F.col("dr.w").alias("w")))
    means = (weighted.groupBy("b")
             .agg((F.sum(F.col("w") * F.col("cents")).cast("bigint")
                   .cast("double")
                   / F.sum("w").cast("bigint").cast("double")).alias("m")))
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m", "b")).alias("rk"))
    ci = ranked.agg(
        F.min(F.when(F.col("rk") == _BOOT_LO_RANK, F.col("m"))).alias("lo"),
        F.min(F.when(F.col("rk") == _BOOT_HI_RANK, F.col("m"))).alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_reps"))
    pt = base.agg(
        (F.sum("cents").cast("bigint").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("m0"))
    return ci.crossJoin(pt).select(
        "n_reps",
        (F.col("m0") / F.lit(100.0)).alias("est_mean_dollars"),
        (F.col("lo") / F.lit(100.0)).alias("ci_lo_dollars"),
        (F.col("hi") / F.lit(100.0)).alias("ci_hi_dollars"))


# ---------------------------------------------------------------------------
# closed-form two-feature OLS
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH base AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS y,
         CAST(hour(ts) AS BIGINT) AS x1,
         -- DuckDB dayofweek is 0-based Sunday, Spark is 1-based: +1
         -- (the ts_dow_hour_profile offset rule)
         CAST(dayofweek(ts) + 1 AS BIGINT) AS x2
  FROM events
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS sx1, CAST(SUM(x2) AS BIGINT) AS sx2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS sx1x1,
         CAST(SUM(x1 * x2) AS BIGINT) AS sx1x2,
         CAST(SUM(x2 * x2) AS BIGINT) AS sx2x2,
         CAST(SUM(x1 * y) AS BIGINT) AS sx1y,
         CAST(SUM(x2 * y) AS BIGINT) AS sx2y,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM base
), d AS (
  SELECT n, sy, sx1y, sx2y, syy,
         CAST(n AS DOUBLE) AS a, CAST(sx1 AS DOUBLE) AS b,
         CAST(sx2 AS DOUBLE) AS c,
         CAST(sx1x1 AS DOUBLE) AS e, CAST(sx1x2 AS DOUBLE) AS f,
         CAST(sx2x2 AS DOUBLE) AS g,
         CAST(sy AS DOUBLE) AS r0, CAST(sx1y AS DOUBLE) AS r1,
         CAST(sx2y AS DOUBLE) AS r2v
  FROM s
), betas AS (
  SELECT n, sy, sx1y, sx2y, syy,
         a * (e * g - f * f) - b * (b * g - f * c)
           + c * (b * f - e * c) AS det,
         r0 * (e * g - f * f) - b * (r1 * g - f * r2v)
           + c * (r1 * f - e * r2v) AS det0,
         a * (r1 * g - r2v * f) - r0 * (b * g - f * c)
           + c * (b * r2v - r1 * c) AS det1,
         a * (e * r2v - f * r1) - b * (b * r2v - r1 * c)
           + r0 * (b * f - e * c) AS det2
  FROM d
)
SELECT n,
       (det0 / det) / 100.0 AS intercept_dollars,
       (det1 / det) / 100.0 AS beta_hour_dollars,
       (det2 / det) / 100.0 AS beta_dow_dollars,
       1.0 - (CAST(syy AS DOUBLE)
              - (det0 / det) * CAST(sy AS DOUBLE)
              - (det1 / det) * CAST(sx1y AS DOUBLE)
              - (det2 / det) * CAST(sx2y AS DOUBLE))
             / (CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS r_squared
FROM betas
"""


@register("stat_ols_two_feature", oracle=_OLS_ORACLE)
def stat_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form two-feature OLS — value-in-cents regressed on
    hour-of-day and day-of-week with intercept, solved by Cramer's rule
    on the 3×3 normal equations (the multi-feature step past
    agg_regr_builtins' single-regressor fits; the shape feature stores
    use for cheap trend-adjustment without an ML library). All ten
    moment sums are exact BIGINTs (every one < 2⁵³, so the double lift
    is exact); determinants expand through a FIXED cofactor tree spelled
    identically in both engines; R² reuses the normal-equation identity
    SSE = Σy² − β·(Σy, Σx₁y, Σx₂y). DuckDB's dayofweek is 0-based
    Sunday while Spark's is 1-based, so the oracle applies the +1 shim
    to mirror Spark's values (the stat_two_proportion_z convention).

    Scale shape: ONE combinable ten-sum aggregate over the scan to a
    single row; the solve is constant work after the fold — the
    canonical 100 TB regression recipe (normal equations, not gradient
    descent)."""
    ev = load_table(spark, "events", sf_dir)
    y = round_cents("value")
    x1 = F.hour("ts").cast("bigint")
    x2 = F.dayofweek("ts").cast("bigint")
    base = ev.select(y.alias("y"), x1.alias("x1"), x2.alias("x2"))
    s = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("sx1"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("sx1x1"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("sx1x2"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("sx2x2"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"))
    a = F.col("n").cast("double")
    b = F.col("sx1").cast("double")
    c = F.col("sx2").cast("double")
    e = F.col("sx1x1").cast("double")
    f = F.col("sx1x2").cast("double")
    g = F.col("sx2x2").cast("double")
    r0 = F.col("sy").cast("double")
    r1 = F.col("sx1y").cast("double")
    r2v = F.col("sx2y").cast("double")
    det = a * (e * g - f * f) - b * (b * g - f * c) + c * (b * f - e * c)
    det0 = (r0 * (e * g - f * f) - b * (r1 * g - f * r2v)
            + c * (r1 * f - e * r2v))
    det1 = (a * (r1 * g - r2v * f) - r0 * (b * g - f * c)
            + c * (b * r2v - r1 * c))
    det2 = (a * (e * r2v - f * r1) - b * (b * r2v - r1 * c)
            + r0 * (b * f - e * c))
    b0 = det0 / det
    b1 = det1 / det
    b2 = det2 / det
    syyd = F.col("syy").cast("double")
    sse = syyd - b0 * r0 - b1 * r1 - b2 * r2v
    sst = syyd - r0 * r0 / a
    return s.select(
        "n",
        (b0 / F.lit(100.0)).alias("intercept_dollars"),
        (b1 / F.lit(100.0)).alias("beta_hour_dollars"),
        (b2 / F.lit(100.0)).alias("beta_dow_dollars"),
        (F.lit(1.0) - sse / sst).alias("r_squared"))


# ---------------------------------------------------------------------------
# Theil–Sen robust slope
# ---------------------------------------------------------------------------

_THEIL_SEN_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                        date_trunc('hour', ts)) AS BIGINT) AS h,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), pairs AS (
  SELECT a.event_type,
         CAST(b.cents - a.cents AS DOUBLE)
           / CAST(b.h - a.h AS DOUBLE) AS slope
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type AND a.h < b.h
), ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM pairs
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_pairs,
       MIN(CASE WHEN rk = (n + 1) // 2 THEN slope END)
         AS sen_slope_cents_per_hour
FROM ranked GROUP BY event_type
"""


@register("ts_theil_sen_slope", oracle=_THEIL_SEN_ORACLE)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type — the MEDIAN of all
    pairwise slopes of the hourly revenue series, the estimator that
    shrugs off the outlier hours that poison ts_trend_slope's
    least-squares fit (29% breakdown point vs 0). The O(k²) pair
    expansion runs over the HOURLY pre-aggregate, so the quadratic term
    is bounded by the calendar (720 points/month → ~260k pairs per
    type), never by corpus size — the same pre-agg-bounds-the-kernel
    discipline as ts_downsample_lttb. Each slope is one Δcents/Δhours
    division of exact BIGINTs (identical IEEE op both engines); the
    median is the DISCRETE lower median picked by rank, so an actual
    pair's slope ships out, not an interpolation.

    Scale shape: combinable hourly groupBy collapses the corpus; the
    pair self-join co-partitions on event_type; one ranked window per
    type over calendar-bounded pairs."""
    hourly = hour_indexed_cents(load_table(spark, "events", sf_dir))
    a = hourly.alias("a")
    b = hourly.alias("b")
    pairs = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                    & (F.col("a.h") < F.col("b.h")))
             .select(F.col("a.event_type").alias("event_type"),
                     ((F.col("b.cents") - F.col("a.cents")).cast("double")
                      / (F.col("b.h") - F.col("a.h")).cast("double"))
                     .alias("slope")))
    wp = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type", "slope",
        F.row_number().over(wp.orderBy("slope")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"))
    return (ranked.groupBy("event_type")
            .agg(F.max("n").cast("bigint").alias("n_pairs"),
                 F.min(F.when(F.col("rk") == F.expr("(n + 1) div 2"),
                              F.col("slope")))
                 .alias("sen_slope_cents_per_hour")))


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test
# ---------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), med AS (
  SELECT event_type,
         MIN(CASE WHEN rk = (n + 1) // 2 THEN cents END) AS m
  FROM (SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, hr) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM hourly) GROUP BY event_type
), signed AS (
  SELECT h.event_type, h.hr,
         CASE WHEN h.cents > med.m THEN 1 ELSE 0 END AS s
  FROM hourly h JOIN med ON h.event_type = med.event_type
  WHERE h.cents <> med.m
), runs AS (
  SELECT event_type, s,
         CASE WHEN lag(s) OVER (PARTITION BY event_type ORDER BY hr)
                   IS DISTINCT FROM s THEN 1 ELSE 0 END AS new_run
  FROM signed
), agg AS (
  SELECT event_type,
         CAST(SUM(new_run) AS BIGINT) AS r,
         CAST(SUM(s) AS BIGINT) AS n1,
         CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2
  FROM runs GROUP BY event_type
)
SELECT event_type, r AS n_runs, n1 AS n_above, n2 AS n_below,
       (CAST(r AS DOUBLE)
        - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
           / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
       / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
              * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
              / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))
         AS z_stat
FROM agg
"""


@register("stat_runs_test_wald_wolfowitz", oracle=_RUNS_ORACLE)
def stat_runs_test_wald_wolfowitz(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per event type — is the hourly revenue
    series RANDOM around its median, or does it clump (trend/seasonality
    → too few runs; alternation → too many)? The nonparametric
    randomness gate that needs no distribution at all: dichotomize the
    series against its DISCRETE median (rank-picked, exact-median hours
    dropped — the classical treatment), count runs with one lag
    comparison, then the normal approximation z from pure integer
    (R, n₁, n₂) through an identical double tree.

    Scale shape: hourly pre-agg collapses the corpus to the calendar;
    the rank-median, sign lag, and run count are all windows over the
    calendar-sized series; one final five-integer fold per type."""
    hourly = hourly_cents(load_table(spark, "events", sf_dir))
    wp = Window.partitionBy("event_type")
    ranked = hourly.select(
        "event_type", "cents",
        F.row_number().over(wp.orderBy("cents", "hr")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"))
    med = (ranked.groupBy("event_type")
           .agg(F.min(F.when(F.col("rk") == F.expr("(n + 1) div 2"),
                             F.col("cents"))).alias("m")))
    signed = (hourly.join(F.broadcast(med), "event_type")
              .where(F.col("cents") != F.col("m"))
              .select("event_type", "hr",
                      F.when(F.col("cents") > F.col("m"), 1).otherwise(0)
                      .alias("s")))
    new_run = F.when(
        ~F.lag("s").over(wp.orderBy("hr")).eqNullSafe(F.col("s")), 1) \
        .otherwise(0)
    runs = signed.select("event_type", "s", new_run.alias("new_run"))
    agg = runs.groupBy("event_type").agg(
        F.sum("new_run").cast("bigint").alias("r"),
        F.sum("s").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("bigint").alias("n2"))
    rd = F.col("r").cast("double")
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    mu = F.lit(2.0) * n1d * n2d / (n1d + n2d) + F.lit(1.0)
    var = (F.lit(2.0) * n1d * n2d
           * (F.lit(2.0) * n1d * n2d - n1d - n2d)
           / ((n1d + n2d) * (n1d + n2d) * (n1d + n2d - F.lit(1.0))))
    return agg.select(
        "event_type", F.col("r").alias("n_runs"),
        F.col("n1").alias("n_above"), F.col("n2").alias("n_below"),
        ((rd - mu) / F.sqrt(var)).alias("z_stat"))


# ---------------------------------------------------------------------------
# click vs purchase hourly revenue, paired by hour
# ---------------------------------------------------------------------------


def _click_purchase_hours(spark: SparkSession, sf_dir: str,
                          x: str, y: str) -> DataFrame:
    """The click and purchase hourly cents series side by side, one row
    per hour in which both types occur: (hr, <x>, hry, <y>), x the click
    cents and y the purchase cents — the paired sample behind the
    two-series rank, sign and correlation tests. Calendar-bounded: the
    corpus collapses to at most one row per hour before the join."""
    hourly = hourly_cents(load_table(spark, "events", sf_dir)
                          .where(F.col("event_type").isin("click",
                                                          "purchase")))
    xs = (hourly.where(F.col("event_type") == "click")
          .select("hr", F.col("cents").alias(x)))
    ys = (hourly.where(F.col("event_type") == "purchase")
          .select(F.col("hr").alias("hry"), F.col("cents").alias(y)))
    return xs.join(ys, F.col("hr") == F.col("hry"))


# ---------------------------------------------------------------------------
# Kendall tau-b
# ---------------------------------------------------------------------------

_KENDALL_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type, date_trunc('hour', ts)
), paired AS (
  SELECT x.hr, x.cents AS xv, y.cents AS yv
  FROM (SELECT hr, cents FROM hourly WHERE event_type = 'click') x
  JOIN (SELECT hr, cents FROM hourly WHERE event_type = 'purchase') y
    ON x.hr = y.hr
), pp AS (
  SELECT a.xv AS x1, a.yv AS y1, b.xv AS x2, b.yv AS y2
  FROM paired a JOIN paired b ON a.hr < b.hr
), s AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n0,
    CAST(COUNT(CASE WHEN (x1 - x2) * (y1 - y2) > 0 THEN 1 END) AS BIGINT)
      AS c,
    CAST(COUNT(CASE WHEN (x1 - x2) * (y1 - y2) < 0 THEN 1 END) AS BIGINT)
      AS d,
    -- ALL x-tied pairs (both-tied included) count in n1, and all
    -- y-tied pairs in n2 -- the classical tau-b denominator (r6 ADVICE)
    CAST(COUNT(CASE WHEN x1 = x2 THEN 1 END) AS BIGINT) AS tx,
    CAST(COUNT(CASE WHEN y1 = y2 THEN 1 END) AS BIGINT) AS ty
  FROM pp
)
SELECT n0 AS n_pairs, c AS n_concordant, d AS n_discordant,
       tx AS n_ties_x, ty AS n_ties_y,
       (CAST(c AS DOUBLE) - CAST(d AS DOUBLE))
         / sqrt((CAST(n0 AS DOUBLE) - CAST(tx AS DOUBLE))
                * (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE))) AS tau_b
FROM s
"""


@register("stat_kendall_tau", oracle=_KENDALL_ORACLE)
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between the hourly click and purchase revenue
    series — the rank-concordance association that is exactly
    distribution-free AND tie-corrected (Pearson's ts_rolling_corr
    reads co-movement magnitude; τ reads co-movement DIRECTION only,
    immune to any monotone distortion of either series). Concordant /
    discordant / tie counts are pure integer comparisons over the
    calendar-bounded pair expansion; τ-b assembles in one identical
    four-op tree with the CLASSICAL denominator √((n₀−n₁)(n₀−n₂)) where
    n₁ counts ALL x-tied pairs and n₂ all y-tied pairs (both-tied pairs
    belong to both terms). The sign product (x₁−x₂)(y₁−y₂) stays in
    BIGINT.

    Scale shape: the corpus collapses to one paired hourly series; the
    O(k²) pair self-join is calendar-bounded (the Theil–Sen
    discipline); one combinable five-count fold."""
    paired = (_click_purchase_hours(spark, sf_dir, "xv", "yv")
              .select("hr", "xv", "yv")
              .localCheckpoint(eager=False))  # both pair sides share it
    a = paired.alias("a")
    b = paired.alias("b")
    pp = (a.join(b, F.col("a.hr") < F.col("b.hr"))
          .select((F.col("a.xv") - F.col("b.xv")).alias("dx"),
                  (F.col("a.yv") - F.col("b.yv")).alias("dy")))
    s = pp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.count(F.when(F.col("dx") * F.col("dy") > 0, 1))
        .cast("bigint").alias("c"),
        F.count(F.when(F.col("dx") * F.col("dy") < 0, 1))
        .cast("bigint").alias("d"),
        # classical tau-b tie terms: EVERY pair tied on x counts in tx
        # and every pair tied on y in ty, so a pair tied on BOTH series
        # appears in both terms (counting only pairs tied on one series
        # would inflate tau_b under both-tied pairs)
        F.count(F.when(F.col("dx") == 0, 1)).cast("bigint").alias("tx"),
        F.count(F.when(F.col("dy") == 0, 1)).cast("bigint").alias("ty"))
    return s.select(
        F.col("n0").alias("n_pairs"),
        F.col("c").alias("n_concordant"),
        F.col("d").alias("n_discordant"),
        F.col("tx").alias("n_ties_x"),
        F.col("ty").alias("n_ties_y"),
        ((F.col("c").cast("double") - F.col("d").cast("double"))
         / F.sqrt((F.col("n0").cast("double") - F.col("tx").cast("double"))
                  * (F.col("n0").cast("double")
                     - F.col("ty").cast("double")))).alias("tau_b"))


# ---------------------------------------------------------------------------
# Spearman rank correlation
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type, date_trunc('hour', ts)
), paired AS (
  SELECT x.hr, x.cents AS xv, y.cents AS yv
  FROM (SELECT hr, cents FROM hourly WHERE event_type = 'click') x
  JOIN (SELECT hr, cents FROM hourly WHERE event_type = 'purchase') y
    ON x.hr = y.hr
), r AS (
  -- doubled average rank 2r = 2*min_rank + ties - 1 stays INTEGER
  SELECT
    CAST(2 * rank() OVER (ORDER BY xv)
         + COUNT(*) OVER (PARTITION BY xv) - 1 AS BIGINT) AS rx2,
    CAST(2 * rank() OVER (ORDER BY yv)
         + COUNT(*) OVER (PARTITION BY yv) - 1 AS BIGINT) AS ry2
  FROM paired
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx2) AS BIGINT) AS sx, CAST(SUM(ry2) AS BIGINT) AS sy,
         CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy,
         CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
         CAST(SUM(ry2 * ry2) AS BIGINT) AS syy
  FROM r
), a AS (
  SELECT n,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS ax,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ay,
         CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) AS axy,
         CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) AS axx,
         CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) AS ayy
  FROM s
)
SELECT n AS n_hours,
       (axy - ax * ay)
         / sqrt((axx - ax * ax) * (ayy - ay * ay)) AS spearman_rho
FROM a
"""


@register("stat_spearman_rho", oracle=_SPEARMAN_ORACLE)
def stat_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the hourly click and purchase
    series — Pearson on AVERAGE ranks, the monotone-association measure
    between Kendall's τ (pure concordance) and raw Pearson (magnitude).
    Tie handling is exact-integer: the doubled average rank
    2r̄ = 2·min_rank + ties − 1 is always an INTEGER, so all five moment
    sums stay BIGINT (ρ is invariant under the common ×2 scaling) and
    the correlation assembles through the standard identical tree — no
    fractional ranks, no float sums, no rounding.

    Scale shape: calendar-bounded series; two rank windows over it; one
    combinable five-sum fold. At a corpus where the series itself were
    huge, the two-pass bucketed rank substitutes (the house recipe)."""
    paired = (_click_purchase_hours(spark, sf_dir, "xv", "yv")
              .select("xv", "yv"))
    rx2 = (F.lit(2) * F.rank().over(Window.orderBy("xv"))
           + F.count(F.lit(1)).over(Window.partitionBy("xv")) - 1) \
        .cast("bigint")
    ry2 = (F.lit(2) * F.rank().over(Window.orderBy("yv"))
           + F.count(F.lit(1)).over(Window.partitionBy("yv")) - 1) \
        .cast("bigint")
    r = paired.select(rx2.alias("rx2"), ry2.alias("ry2"))
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sx"),
        F.sum("ry2").cast("bigint").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy"))
    return s.select(
        F.col("n").alias("n_hours"),
        pearson_from_sums("n", "sx", "sy", "sxy", "sxx", "syy")
        .alias("spearman_rho"))


# ---------------------------------------------------------------------------
# one-way ANOVA F
# ---------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS xc FROM events
), per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xc) AS BIGINT) AS s1, CAST(SUM(xc * xc) AS BIGINT) AS s2
  FROM c GROUP BY event_type
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(s1) AS BIGINT) AS s1_tot,
         CAST(SUM(s2) AS BIGINT) AS s2_tot,
         -- group-mean term Σ s1ᵢ²/nᵢ: per-group exact rational, summed
         -- in a FIXED order (event_type) via an ordered list fold so the
         -- float sum is associatively identical in both engines
         list_sum(list(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE) ORDER BY event_type))
           AS ssb_term
  FROM per
)
SELECT k AS n_groups, n_tot,
       (ssb_term - CAST(s1_tot AS DOUBLE) * CAST(s1_tot AS DOUBLE)
                   / CAST(n_tot AS DOUBLE)) / 100.0 / 100.0 AS ss_between_d2,
       (CAST(s2_tot AS DOUBLE) - ssb_term) / 100.0 / 100.0 AS ss_within_d2,
       ((ssb_term - CAST(s1_tot AS DOUBLE) * CAST(s1_tot AS DOUBLE)
                    / CAST(n_tot AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
         / ((CAST(s2_tot AS DOUBLE) - ssb_term)
            / (CAST(n_tot AS DOUBLE) - CAST(k AS DOUBLE))) AS f_stat
FROM tot
"""


def _oneway_sums(per: DataFrame) -> DataFrame:
    """(k, n_tot, s1_tot, s2_tot, ssb_term) over per-group (event_type, n,
    s1, s2) sums. The one cross-group float reduction, ssb_term = Σ s1²/n,
    folds the groups in event_type order in both engines."""
    term = (F.col("s1").cast("double") * F.col("s1").cast("double")
            / F.col("n").cast("double"))
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("s1").cast("bigint").alias("s1_tot"),
        F.sum("s2").cast("bigint").alias("s2_tot"),
        ordered_fold(["event_type"], term).alias("ssb_term"))


def _oneway_ss() -> tuple[Column, Column, Column, Column]:
    """(k, n, SS between, SS within) as doubles over _oneway_sums's row."""
    nd = F.col("n_tot").cast("double")
    ssb = (F.col("ssb_term")
           - F.col("s1_tot").cast("double") * F.col("s1_tot").cast("double")
           / nd)
    ssw = F.col("s2_tot").cast("double") - F.col("ssb_term")
    return F.col("k").cast("double"), nd, ssb, ssw


@register("stat_anova_oneway_f", oracle=_ANOVA_ORACLE)
def stat_anova_oneway_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across all five event types — does event type
    explain ANY of the value variance? — the k-group generalization of
    stat_welch_ttest's pairwise readout. Per-group n, Σx, Σx² are exact
    BIGINTs; the one cross-group float reduction (Σᵢ s1ᵢ²/nᵢ) is summed
    over a FIXED ORDER (the k=5 per-group terms sorted by event_type and
    folded left-to-right in both engines — a list fold in DuckDB, an
    ordered-array aggregate fold in Spark), so the only associativity
    hazard in the statistic is pinned; everything after is the standard
    identical tree. SS columns report in dollars² (÷100²), which is an
    exact power-of-two-free scaling applied identically.

    Scale shape: one combinable three-sum groupBy to k=5 rows; the
    fixed-order fold runs over those 5 rows — data-size-free."""
    ev = load_table(spark, "events", sf_dir)
    xc = round_cents("value")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xc).cast("bigint").alias("s1"),
        F.sum(xc * xc).cast("bigint").alias("s2"))
    tot = _oneway_sums(per)
    kd, nd, ssb, ssw = _oneway_ss()
    return tot.select(
        F.col("k").alias("n_groups"), "n_tot",
        (ssb / F.lit(100.0) / F.lit(100.0)).alias("ss_between_d2"),
        (ssw / F.lit(100.0) / F.lit(100.0)).alias("ss_within_d2"),
        ((ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd))).alias("f_stat"))


# ---------------------------------------------------------------------------
# two-proportion z-test
# ---------------------------------------------------------------------------

_TWO_PROP_ORACLE = """
WITH c AS (
  SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS is_wkend,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
  FROM events
), s AS (
  SELECT
    CAST(SUM(CASE WHEN is_wkend = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN is_wkend = 1 THEN is_conv ELSE 0 END) AS BIGINT)
      AS x1,
    CAST(SUM(CASE WHEN is_wkend = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN is_wkend = 0 THEN is_conv ELSE 0 END) AS BIGINT)
      AS x2
  FROM c
)
SELECT n1 AS n_weekend, x1 AS conv_weekend, n2 AS n_weekday,
       x2 AS conv_weekday,
       CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p_diff,
       (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
       / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
              * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
              * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
         AS z_stat
FROM s
"""


@register("stat_two_proportion_z", oracle=_TWO_PROP_ORACLE)
def stat_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — does the purchase-conversion rate differ
    between weekend and weekday traffic? — the conversion-rate
    counterpart of stat_welch_ttest's value test, with the pooled
    standard error under H₀ (the form every A/B dashboard implements
    first). Four integer counts from ONE conditional aggregate; p̂'s and
    z assemble through the identical tree. Weekend uses DuckDB's
    0-based dayofweek (0=Sun, 6=Sat) mirrored on the Spark side by
    shifting its 1-based values.

    Scale shape: a single combinable four-sum fold over the scan."""
    ev = load_table(spark, "events", sf_dir)
    # Spark dayofweek: 1=Sunday..7=Saturday → weekend = {1, 7}
    is_wkend = F.dayofweek("ts").isin(1, 7)
    is_conv = F.col("event_type") == "purchase"
    s = ev.agg(
        F.count(F.when(is_wkend, 1)).cast("bigint").alias("n1"),
        F.count(F.when(is_wkend & is_conv, 1)).cast("bigint").alias("x1"),
        F.count(F.when(~is_wkend, 1)).cast("bigint").alias("n2"),
        F.count(F.when(~is_wkend & is_conv, 1)).cast("bigint").alias("x2"))
    p1 = F.col("x1").cast("double") / F.col("n1").cast("double")
    p2 = F.col("x2").cast("double") / F.col("n2").cast("double")
    pp = ((F.col("x1") + F.col("x2")).cast("double")
          / (F.col("n1") + F.col("n2")).cast("double"))
    se = F.sqrt(pp * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n1").cast("double")
                   + F.lit(1.0) / F.col("n2").cast("double")))
    return s.select(
        F.col("n1").alias("n_weekend"), F.col("x1").alias("conv_weekend"),
        F.col("n2").alias("n_weekday"), F.col("x2").alias("conv_weekday"),
        (p1 - p2).alias("p_diff"),
        ((p1 - p2) / se).alias("z_stat"))


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) two-sample test
# ---------------------------------------------------------------------------

_MWU_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), r AS (
  SELECT event_type,
         CAST(2 * rank() OVER (ORDER BY xc)
              + COUNT(*) OVER (PARTITION BY xc) - 1 AS BIGINT) AS r2
  FROM c
), ties AS (
  SELECT CAST(COALESCE(SUM(cnt * cnt * cnt - cnt), 0) AS BIGINT) AS tt
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY xc)
), s AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n1,
    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n2,
    CAST(SUM(r2) FILTER (WHERE event_type = 'click') AS BIGINT) AS sr2
  FROM r
)
SELECT n1 AS n_click, n2 AS n_purchase,
       (CAST(sr2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0))
         / 2.0 AS u_click,
       ((CAST(sr2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0))
          / 2.0
        - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
       / sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
              * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                 - CAST(tt AS DOUBLE)
                   / (CAST(n1 + n2 AS DOUBLE)
                      * (CAST(n1 + n2 AS DOUBLE) - 1.0)))) AS z_stat,
       1.0 - (CAST(sr2 AS DOUBLE)
              - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0))
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS rank_biserial
FROM s, ties
"""


@register("stat_mann_whitney_u", oracle=_MWU_ORACLE)
def stat_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between click and purchase
    event values -- the distribution-free partner of stat_welch_ttest:
    does one arm stochastically dominate the other, with NO normality
    assumption? Ranks use the doubled-average-rank trick from
    stat_spearman_rho (2*avg-rank = 2*min_rank + ties - 1 is always an
    INTEGER), so the rank sum stays BIGINT; the tie correction
    sum(t^3 - t) is a pure integer fold over the value domain; U, the
    normal-approximation z with tie-corrected variance
    (n1*n2/12)*((N+1) - T/(N(N-1))), and the rank-biserial effect size
    1 - 2U/(n1*n2) assemble through an expression tree written
    identically in both engines.

    Scale shape: the corpus folds to the value DOMAIN (~18k distinct
    cents at sf0.1, the stat_ks_two_sample observation) in one
    combinable groupBy; the only global window runs over that
    domain-sized table (100x probe: 5.6x row-level -> 1.2x collapsed);
    everything after is one combinable fold."""
    ev = click_purchase_events(spark, sf_dir)
    xc = round_cents("value")
    # DOMAIN-COLLAPSED ranks (the stat_ks_two_sample discipline): the
    # doubled average rank of every row at value v is 2*cum_below + t_v
    # + 1, a pure function of per-value counts -- so the corpus folds
    # to the ~18k-value domain FIRST and the rank window runs over the
    # domain, not the rows. The first draft's row-level global rank
    # window funneled every row through one partition (probed 5.6x for
    # 100x data; this shape keeps the only global window domain-sized).
    dom = (ev.select((F.col("event_type") == "click").alias("is1"),
                     xc.alias("xc"))
           .groupBy("xc")
           .agg(F.count(F.lit(1)).cast("bigint").alias("t"),
                F.count(F.when(F.col("is1"), 1)).cast("bigint")
                .alias("p")))
    wcum = (Window.orderBy("xc")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum_below = (F.sum("t").over(wcum) - F.col("t")).cast("bigint")
    r = dom.select(
        "t", "p",
        (F.col("p") * (F.lit(2) * cum_below + F.col("t") + 1))
        .cast("bigint").alias("pr2"),
        (F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint").alias("t3t"))
    j = r.agg(
        F.sum("p").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("p")).cast("bigint").alias("n2"),
        F.sum("pr2").cast("bigint").alias("sr2"),
        F.coalesce(F.sum("t3t"), F.lit(0)).cast("bigint").alias("tt"))
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u1 = (F.col("sr2").cast("double") - n1d * (n1d + F.lit(1.0))) / F.lit(2.0)
    var_u = (n1d * n2d / F.lit(12.0)) \
        * ((nd + F.lit(1.0))
           - F.col("tt").cast("double") / (nd * (nd - F.lit(1.0))))
    return j.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_purchase"),
        u1.alias("u_click"),
        ((u1 - n1d * n2d / F.lit(2.0)) / F.sqrt(var_u)).alias("z_stat"),
        (F.lit(1.0) - (F.col("sr2").cast("double")
                       - n1d * (n1d + F.lit(1.0))) / (n1d * n2d))
        .alias("rank_biserial"))


# ---------------------------------------------------------------------------
# Cohen's d / Hedges' g effect size
# ---------------------------------------------------------------------------

_COHENS_D_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), s AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n1,
    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n2,
    CAST(SUM(xc) FILTER (WHERE event_type = 'click') AS BIGINT) AS s1a,
    CAST(SUM(xc * xc) FILTER (WHERE event_type = 'click') AS BIGINT) AS s2a,
    CAST(SUM(xc) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS s1b,
    CAST(SUM(xc * xc) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS s2b
  FROM c
), v AS (
  SELECT n1, n2,
         CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         (CAST(s2a AS DOUBLE) / CAST(n1 AS DOUBLE)
          - (CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE))
            * (CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE)))
           * (CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) - 1.0)) AS v1,
         (CAST(s2b AS DOUBLE) / CAST(n2 AS DOUBLE)
          - (CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE))
            * (CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE)))
           * (CAST(n2 AS DOUBLE) / (CAST(n2 AS DOUBLE) - 1.0)) AS v2
  FROM s
), d AS (
  SELECT n1, n2,
         (m1 - m2) / sqrt(((CAST(n1 AS DOUBLE) - 1.0) * v1
                           + (CAST(n2 AS DOUBLE) - 1.0) * v2)
                          / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))
           AS cohens_d
  FROM v
)
SELECT n1 AS n_click, n2 AS n_purchase, cohens_d,
       cohens_d * (1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0))
         AS hedges_g
FROM d
"""


@register("stat_cohens_d", oracle=_COHENS_D_ORACLE)
def stat_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d pooled-SD effect size between click and purchase values,
    plus the Hedges small-sample correction g = d*(1 - 3/(4N - 9)) --
    the HOW-BIG companion to stat_welch_ttest's IS-IT-REAL: at 100-TB
    row counts every difference is 'significant', so the effect size is
    the number a decision actually turns on. Same six exact integer cent
    sums as the t-test; pooled variance ((n1-1)v1 + (n2-1)v2)/(n1+n2-2)
    and both standardized effects are scale-invariant, so cents equal
    dollars; the whole assembly is one identical expression tree.

    Scale shape: ONE combinable conditional aggregate (six FILTER sums)
    to a single row -- no shuffle carries more than six partials."""
    ev = click_purchase_events(spark, sf_dir)
    xc = round_cents("value")
    is1 = F.col("event_type") == "click"
    s = two_group_sums(ev, xc, is1, ~is1)
    n1d, n2d, m1, m2, v1, v2 = two_group_moments()
    d = (m1 - m2) / F.sqrt(((n1d - F.lit(1.0)) * v1
                            + (n2d - F.lit(1.0)) * v2)
                           / (n1d + n2d - F.lit(2.0)))
    return s.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_purchase"),
        d.alias("cohens_d"),
        (d * (F.lit(1.0) - F.lit(3.0)
              / (F.lit(4.0) * (n1d + n2d) - F.lit(9.0)))).alias("hedges_g"))


# ---------------------------------------------------------------------------
# Cramer's V association strength
# ---------------------------------------------------------------------------

_CRAMERS_V_ORACLE = """
WITH cells AS (
  SELECT event_type, CAST(user_id % 3 AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY event_type, CAST(user_id % 3 AS BIGINT)
), m AS (
  SELECT event_type, bucket, obs,
         CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
         CAST(SUM(obs) OVER (PARTITION BY bucket) AS BIGINT) AS col_n,
         CAST(SUM(obs) OVER () AS BIGINT) AS n
  FROM cells
), contrib AS (
  SELECT event_type, bucket, n,
         (CAST(obs AS DOUBLE)
          - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
            / CAST(n AS DOUBLE))
         * (CAST(obs AS DOUBLE)
            - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
              / CAST(n AS DOUBLE))
         / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
            / CAST(n AS DOUBLE)) AS c
  FROM m
), fold AS (
  SELECT MAX(n) AS n_total,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT bucket) AS BIGINT) AS cc,
         -- cross-cell float sum pinned to a FIXED (event_type, bucket)
         -- order via an ordered list fold (the stat_anova_oneway_f rule)
         list_sum(list(c ORDER BY event_type, bucket)) AS chi2
  FROM contrib
)
SELECT n_total, r AS n_rows, cc AS n_cols, chi2,
       sqrt(chi2 / (CAST(n_total AS DOUBLE)
                    * CAST(least(r - 1, cc - 1) AS DOUBLE))) AS cramers_v
FROM fold
"""


def _type_bucket_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, bucket, obs, row_n, col_n, n): the event_type x
    pmod(user_id, 3) contingency table with exact BIGINT marginals, the
    corpus folded to 15 cells by one combinable groupBy and the
    marginals windows over those cells."""
    cells = (load_table(spark, "events", sf_dir)
             .groupBy("event_type",
                      F.pmod(F.col("user_id"), F.lit(3)).cast("bigint")
                      .alias("bucket"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("obs")))
    row_n = F.sum("obs").over(Window.partitionBy("event_type")) \
        .cast("bigint")
    col_n = F.sum("obs").over(Window.partitionBy("bucket")).cast("bigint")
    n = F.sum("obs").over(Window.partitionBy()).cast("bigint")
    return cells.select("event_type", "bucket", "obs",
                        row_n.alias("row_n"), col_n.alias("col_n"),
                        n.alias("n"))


@register("stat_cramers_v", oracle=_CRAMERS_V_ORACLE)
def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V over the same event_type x user-bucket contingency
    table as stat_chi_square_independence -- the [0,1]-normalized
    association strength that makes tables of different shapes
    comparable (chi-squared itself grows with n, so it cannot be read
    across datasets). Observed counts and both marginals are exact
    BIGINTs from one groupBy plus windows over the 15-cell table; the
    one cross-cell float reduction (sum of (O-E)^2/E) folds over the
    FIXED (event_type, bucket) order in both engines (the
    stat_anova_oneway_f discipline), then V = sqrt(chi2/(n*min(r-1,c-1)))
    is the standard identical tree.

    Scale shape: the corpus collapses to r*c = 15 cells in one
    combinable groupBy; windows and the ordered fold run over those 15
    rows -- data-size-free after the first exchange."""
    m = _type_bucket_margins(spark, sf_dir)
    exp = (F.col("row_n").cast("double") * F.col("col_n").cast("double")
           / F.col("n").cast("double"))
    contrib = m.select(
        "event_type", "bucket", "n",
        ((F.col("obs").cast("double") - exp)
         * (F.col("obs").cast("double") - exp) / exp).alias("c"))
    fold = contrib.agg(
        F.max("n").alias("n_total"),
        F.countDistinct("event_type").cast("bigint").alias("r"),
        F.countDistinct("bucket").cast("bigint").alias("cc"),
        ordered_fold(["event_type", "bucket"], F.col("c")).alias("chi2"))
    return fold.select(
        "n_total", F.col("r").alias("n_rows"), F.col("cc").alias("n_cols"),
        "chi2",
        F.sqrt(F.col("chi2")
               / (F.col("n_total").cast("double")
                  * F.least(F.col("r") - 1, F.col("cc") - 1).cast("double")))
        .alias("cramers_v"))


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene) equality of variances
# ---------------------------------------------------------------------------

_BROWN_FORSYTHE_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS xc FROM events
), ranked AS (
  SELECT event_type, xc,
         row_number() OVER (PARTITION BY event_type ORDER BY xc) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM c
), med AS (
  -- discrete lower median: the value at sorted position ceil(n/2)
  SELECT event_type,
         CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN xc END) AS BIGINT)
           AS med
  FROM ranked GROUP BY event_type
), dev AS (
  SELECT c.event_type, CAST(abs(c.xc - med.med) AS BIGINT) AS d
  FROM c JOIN med ON c.event_type = med.event_type
), per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS s1, CAST(SUM(d * d) AS BIGINT) AS s2
  FROM dev GROUP BY event_type
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(s1) AS BIGINT) AS s1_tot,
         CAST(SUM(s2) AS BIGINT) AS s2_tot,
         list_sum(list(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE) ORDER BY event_type))
           AS ssb_term
  FROM per
)
SELECT k AS n_groups, n_tot,
       ((ssb_term - CAST(s1_tot AS DOUBLE) * CAST(s1_tot AS DOUBLE)
                    / CAST(n_tot AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
         / ((CAST(s2_tot AS DOUBLE) - ssb_term)
            / (CAST(n_tot AS DOUBLE) - CAST(k AS DOUBLE))) AS w_stat,
       CAST(k - 1 AS BIGINT) AS df1,
       CAST(n_tot - k AS BIGINT) AS df2
FROM tot
"""


@register("stat_brown_forsythe", oracle=_BROWN_FORSYTHE_ORACLE)
def stat_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (median-centered Levene) for equality of
    variances across the five event types -- the gatekeeper BEFORE a
    pooled-variance test: stat_anova_oneway_f's F is only trustworthy if
    spreads are comparable, and centering on the MEDIAN (not the mean)
    keeps the test honest under the skewed value distributions real
    event data has. Per-group DISCRETE medians are rank-picked integers
    (the ts_outlier_iqr quartile rule: smallest value whose running
    count reaches ceil(n/2)); absolute deviations |x - med| stay
    BIGINT, so the whole statistic is the one-way ANOVA F machinery
    applied to integer deviations -- per-group (n, sum d, sum d^2)
    folds plus the one FIXED-ORDER cross-group float fold.

    Scale shape: the corpus folds to (type, value) counts; the median
    comes off per-type running counts over that DOMAIN (100x probe:
    10.1x row-level -> 0.6x collapsed), deviations are count-weighted
    sums over the same table, then one groupBy to k=5 rows and a
    5-element ordered fold -- nothing past the first exchange is ever
    row-sized."""
    ev = load_table(spark, "events", sf_dir)
    xc = round_cents("value")
    # DOMAIN-COLLAPSED: per-(type, value) counts replace both the
    # per-type row_number sort (median = smallest value whose running
    # count reaches ceil(n/2)) and the row-level deviation pass
    # (|x - med| moments are count-weighted sums over the same domain
    # table). The row-level draft probed 10.1x for 100x data; here
    # every post-collapse stage is domain-sized.
    dom = (ev.select("event_type", xc.alias("xc"))
           .groupBy("event_type", "xc")
           .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    wn = Window.partitionBy("event_type")
    wcum = (Window.partitionBy("event_type").orderBy("xc")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = dom.select(
        "event_type", "xc", "cnt",
        F.sum("cnt").over(wcum).cast("bigint").alias("cum"),
        F.sum("cnt").over(wn).cast("bigint").alias("n"))
    med = (cum.where(F.col("cum") >= F.floor((F.col("n") + 1) / 2))
           .groupBy("event_type")
           .agg(F.min("xc").cast("bigint").alias("med")))
    dev = (dom.join(F.broadcast(med), "event_type")
           .select("event_type", "cnt",
                   F.abs(F.col("xc") - F.col("med")).cast("bigint")
                   .alias("d")))
    per = dev.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("d")).cast("bigint").alias("s1"),
        F.sum(F.col("cnt") * F.col("d") * F.col("d")).cast("bigint")
        .alias("s2"))
    tot = _oneway_sums(per)
    kd, nd, ssb, ssw = _oneway_ss()
    return tot.select(
        F.col("k").alias("n_groups"), "n_tot",
        ((ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd))).alias("w_stat"),
        (F.col("k") - 1).cast("bigint").alias("df1"),
        (F.col("n_tot") - F.col("k")).cast("bigint").alias("df2"))


# ---------------------------------------------------------------------------
# deterministic randomization (permutation) test
# ---------------------------------------------------------------------------

# B = 32 rather than 64: the key straddled a 2 s bar at B=64; the add-one
# p-value (1+k)/(1+B) stays exact in both engines at any B, and 32
# exchangeable relabelings still bound the add-one p at ~0.03
# resolution.
_PERM_B = 32
# u32 < 2^31  <=>  the md5 bit stream assigns the row to pseudo-arm A
_PERM_HALF = 2147483648

_PERM_ORACLE = f"""
WITH base AS (
  SELECT event_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
), obs AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n1,
    CAST(SUM(cents) FILTER (WHERE event_type = 'click') AS BIGINT) AS s1,
    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n2,
    CAST(SUM(cents) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS s2
  FROM base
), grp AS (
  SELECT CAST(unnest(range({_PERM_B // 4})) AS BIGINT) AS g
), digests AS (
  -- one md5 per (row, group); each digest yields FOUR u32 draws
  SELECT base.cents, grp.g,
         md5(concat(CAST(base.event_id AS VARCHAR), ':',
                    CAST(grp.g AS VARCHAR))) AS m
  FROM base CROSS JOIN grp
), js AS (
  SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS j
), relabeled AS (
  SELECT digests.g * 4 + js.j AS b, digests.cents,
         CAST(concat('0x', substring(digests.m,
                                     CAST(1 + 8 * js.j AS INTEGER), 8))
              AS BIGINT) < {_PERM_HALF} AS in_a
  FROM digests CROSS JOIN js
), rep_diff AS (
  SELECT b,
         CAST(CAST(SUM(cents) FILTER (WHERE in_a) AS BIGINT) AS DOUBLE)
           / CAST(COUNT(*) FILTER (WHERE in_a) AS DOUBLE)
         - CAST(CAST(SUM(cents) FILTER (WHERE NOT in_a) AS BIGINT)
                AS DOUBLE)
           / CAST(COUNT(*) FILTER (WHERE NOT in_a) AS DOUBLE) AS d
  FROM relabeled GROUP BY b
), fold AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
         CAST(COUNT(*) FILTER (WHERE abs(rep_diff.d) >= abs(
              CAST(obs.s1 AS DOUBLE) / CAST(obs.n1 AS DOUBLE)
              - CAST(obs.s2 AS DOUBLE) / CAST(obs.n2 AS DOUBLE)))
              AS BIGINT) AS n_extreme
  FROM rep_diff CROSS JOIN obs
)
SELECT obs.n1 AS n_click, obs.n2 AS n_purchase,
       (CAST(obs.s1 AS DOUBLE) / CAST(obs.n1 AS DOUBLE)
        - CAST(obs.s2 AS DOUBLE) / CAST(obs.n2 AS DOUBLE)) / 100.0
         AS diff_obs_dollars,
       fold.n_reps, fold.n_extreme,
       CAST(1 + fold.n_extreme AS DOUBLE)
         / CAST(1 + fold.n_reps AS DOUBLE) AS p_value
FROM fold CROSS JOIN obs
"""


@register("stat_permutation_test", oracle=_PERM_ORACLE)
def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (permutation) test for the click-vs-purchase mean
    gap: 32 deterministic pseudo-relabelings of the pooled sample (each
    row joins pseudo-arm A iff the top 32 md5(event_id:replicate) bits
    fall below 2^31 -- the stat_bootstrap_poisson_ci randomness recipe),
    a mean difference per relabeling, and the add-one p-value
    (1 + #extreme)/(1 + B) -- the assumption-free significance readout
    that needs NO variance formula, normal approximation, or rank
    theory: under H0 the labels are exchangeable, full stop. The
    trio's closer: Welch assumes little, Mann-Whitney less, this
    nothing.

    Determinism: arm assignment is a pure integer comparison on md5
    bits; per-replicate sums/counts are exact BIGINTs via conditional
    folds; each replicate's mean difference and the observed difference
    assemble through identical trees, and the extreme-count comparison
    |d_b| >= |d_obs| compares identically-computed doubles.

    Scale shape: the x32 fan-out is map-side against a broadcast spine;
    each replicate folds to four partials in ONE combinable groupBy (the
    bootstrap shape exactly); the extreme count folds over 32 rows."""
    ev = click_purchase_events(spark, sf_dir)
    base = ev.select(
        "event_id", "event_type",
        round_cents("value").alias("cents"))
    is1 = F.col("event_type") == "click"
    obs = base.agg(
        F.count(F.when(is1, 1)).cast("bigint").alias("n1"),
        F.sum(F.when(is1, F.col("cents"))).cast("bigint").alias("s1"),
        F.count(F.when(~is1, 1)).cast("bigint").alias("n2"),
        F.sum(F.when(~is1, F.col("cents"))).cast("bigint").alias("s2"))
    digests, b_u = _md5_replicates(spark, base, _PERM_B)
    draws = F.array(*[F.struct(b, (u < F.lit(_PERM_HALF)).alias("in_a"))
                      for b, u in b_u])
    relabeled = (digests
                 .select("cents", F.explode(draws).alias("dr"))
                 .select(F.col("dr.b").alias("b"), "cents",
                         F.col("dr.in_a").alias("in_a")))
    rep_diff = (relabeled.groupBy("b")
                .agg((F.sum(F.when(F.col("in_a"), F.col("cents")))
                      .cast("bigint").cast("double")
                      / F.count(F.when(F.col("in_a"), 1)).cast("double")
                      - F.sum(F.when(~F.col("in_a"), F.col("cents")))
                      .cast("bigint").cast("double")
                      / F.count(F.when(~F.col("in_a"), 1)).cast("double"))
                     .alias("d")))
    d_obs = (F.col("s1").cast("double") / F.col("n1").cast("double")
             - F.col("s2").cast("double") / F.col("n2").cast("double"))
    fold = (rep_diff.crossJoin(F.broadcast(obs))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_reps"),
                 F.count(F.when(F.abs(F.col("d")) >= F.abs(d_obs), 1))
                 .cast("bigint").alias("n_extreme"),
                 F.max("n1").alias("n1"), F.max("s1").alias("s1"),
                 F.max("n2").alias("n2"), F.max("s2").alias("s2")))
    return fold.select(
        F.col("n1").alias("n_click"), F.col("n2").alias("n_purchase"),
        (d_obs / F.lit(100.0)).alias("diff_obs_dollars"),
        "n_reps", "n_extreme",
        ((F.lit(1) + F.col("n_extreme")).cast("double")
         / (F.lit(1) + F.col("n_reps")).cast("double")).alias("p_value"))


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-type permutation p-values
# ---------------------------------------------------------------------------

_BH_B = 64
_BH_Q = 0.10
_BH_U32 = 4294967296  # 2^32

_BH_ORACLE = f"""
WITH base AS (
  SELECT event_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
), per AS (
  SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS n_t,
         CAST(SUM(cents) AS BIGINT) AS s_t
  FROM base GROUP BY event_type
), tot AS (
  SELECT CAST(SUM(n_t) AS BIGINT) AS n, CAST(SUM(s_t) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM per
), tests AS (
  SELECT per.t, per.n_t, per.s_t, tot.n, tot.s, tot.m,
         CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
           - CAST(s - s_t AS DOUBLE) / CAST(n - n_t AS DOUBLE) AS d_obs,
         ({_BH_U32} * n_t) // n AS thresh
  FROM per CROSS JOIN tot
), grp AS (
  SELECT CAST(unnest(range({_BH_B // 4})) AS BIGINT) AS g
), digests AS (
  -- one md5 per (row, group); each digest yields FOUR u32 draws
  SELECT base.cents, grp.g,
         md5(concat(CAST(base.event_id AS VARCHAR), ':',
                    CAST(grp.g AS VARCHAR))) AS m
  FROM base CROSS JOIN grp
), js AS (
  SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS j
), fan AS (
  SELECT tests.t, tests.thresh, digests.g * 4 + js.j AS b, digests.cents,
         CAST(concat('0x', substring(digests.m,
                                     CAST(1 + 8 * js.j AS INTEGER), 8))
              AS BIGINT) AS u
  FROM digests CROSS JOIN js CROSS JOIN tests
), rep_diff AS (
  SELECT t, b,
         CAST(CAST(SUM(cents) FILTER (WHERE u < thresh) AS BIGINT)
              AS DOUBLE)
           / CAST(COUNT(*) FILTER (WHERE u < thresh) AS DOUBLE)
         - CAST(CAST(SUM(cents) FILTER (WHERE u >= thresh) AS BIGINT)
                AS DOUBLE)
           / CAST(COUNT(*) FILTER (WHERE u >= thresh) AS DOUBLE) AS d
  FROM fan GROUP BY t, b
), pvals AS (
  SELECT tests.t, tests.m,
         CAST(1 + COUNT(*) FILTER (WHERE abs(rep_diff.d)
                                   >= abs(tests.d_obs)) AS BIGINT)
           AS p_num
  FROM rep_diff JOIN tests ON rep_diff.t = tests.t
  GROUP BY tests.t, tests.m
), ranked AS (
  SELECT t, m, p_num,
         CAST(p_num AS DOUBLE) / {_BH_B + 1}.0 AS p_value,
         row_number() OVER (ORDER BY p_num, t) AS rk
  FROM pvals
), adj AS (
  SELECT t, p_value, CAST(rk AS BIGINT) AS rank,
         MIN(p_value * CAST(m AS DOUBLE) / CAST(rk AS DOUBLE))
           OVER (ORDER BY rk DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS p_adj
  FROM ranked
)
SELECT t AS event_type, p_value, rank, p_adj,
       p_adj <= {_BH_Q} AS discovery
FROM adj
"""


@register("stat_bh_fdr_permutation", oracle=_BH_ORACLE)
def stat_bh_fdr_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a FAMILY of tests: each event
    type's one-vs-rest mean-value gap gets a deterministic randomization
    p-value (64 md5-bit relabelings per test, Bernoulli(n_t/N) arm
    assignment from an exact integer threshold -- the streaming-friendly
    relabeling, same spirit as the Poisson bootstrap's independent
    weights), then the five p-values are BH-adjusted (suffix-min of
    p*m/rank) and flagged at q = 0.10 -- the multiple-testing discipline
    every metrics platform needs once dashboards run one test per
    segment. Every p-value is an exact multiple of 1/65 (add-one over 64
    replicates); ranks tie-break on event_type; the suffix-min is a
    5-row window.

    Scale shape: the fan-out is rows x 64 replicates x k=5 tests, all
    map-side against two broadcast spines, folding to 320 rows in ONE
    combinable conditional groupBy -- the bootstrap shape with a test
    dimension; everything after runs on <= 320 rows."""
    ev = load_table(spark, "events", sf_dir)
    base = ev.select(
        "event_id", "event_type",
        round_cents("value").alias("cents"))
    per = base.groupBy(F.col("event_type").alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t"),
        F.sum("cents").cast("bigint").alias("s_t"))
    tot = per.agg(F.sum("n_t").cast("bigint").alias("n"),
                  F.sum("s_t").cast("bigint").alias("s"),
                  F.count(F.lit(1)).cast("bigint").alias("m"))
    d_obs = (F.col("s_t").cast("double") / F.col("n_t").cast("double")
             - (F.col("s") - F.col("s_t")).cast("double")
             / (F.col("n") - F.col("n_t")).cast("double"))
    # checkpoint the k-row test table — it feeds the threshold
    # literals, the rank spine and the p-value join, so uncheckpointed
    # the events groupBy re-ran for each
    tests = (per.crossJoin(F.broadcast(tot))
             .select("t", "n_t", "m", d_obs.alias("d_obs"),
                     F.floor(F.lit(_BH_U32) * F.col("n_t") / F.col("n"))
                     .cast("bigint").alias("thresh"))
             .localCheckpoint(eager=False))
    # the k thresholds partition the u32 domain into k+1 intervals, so
    # the corpus folds ONCE to (replicate, interval) partials and each
    # test's arm sums are prefix sums over <= 6 rows (cross-joining the
    # test dimension BEFORE the fold recomputes the md5 k times:
    # measured 39 s at sf0.1)
    digests, b_u = _md5_replicates(spark, base, _BH_B)
    draws = F.array(*[F.struct(b, u.alias("u")) for b, u in b_u])
    fan0 = (digests
            .select("cents", F.explode(draws).alias("d"))
            .select(F.col("d.b").alias("b"), "cents",
                    F.col("d.u").alias("u")))
    # the interval index as size(filter(ta, th -> u >= th)) is an
    # INTERPRETED higher-order lambda per fan row (~1 s at sf0.1).
    # The k thresholds are a bounded driver scalar (one per event type,
    # the query's own output grain), so collect them once off the
    # checkpointed test table and grade each u with a codegen'd literal
    # comparison chain — bit-identical counts, no lambda, no crossJoin.
    ths = sorted(r[0] for r in tests.select("thresh").collect())
    idx = F.lit(0)
    for th in ths:
        idx = idx + F.when(F.col("u") >= F.lit(th), 1).otherwise(0)
    partial = (fan0
               .select("b", "cents", idx.alias("idx"))
               .groupBy("b", "idx")
               .agg(F.sum("cents").cast("bigint").alias("sc"),
                    F.count(F.lit(1)).cast("bigint").alias("nc")))
    # rank of each test's threshold among the sorted thresholds:
    # in_a(test)  <=>  idx < rank  (prefix property, tie-safe)
    tranked = tests.select(
        "t", F.row_number().over(Window.orderBy("thresh", "t"))
        .alias("trk"))
    below = F.col("idx") < F.col("trk")
    rep_diff = (partial.join(F.broadcast(tranked))
                .groupBy("t", "b")
                .agg((F.sum(F.when(below, F.col("sc"))).cast("bigint")
                      .cast("double")
                      / F.sum(F.when(below, F.col("nc"))).cast("bigint")
                      .cast("double")
                      - F.sum(F.when(~below, F.col("sc"))).cast("bigint")
                      .cast("double")
                      / F.sum(F.when(~below, F.col("nc"))).cast("bigint")
                      .cast("double"))
                     .alias("d")))
    pvals = (rep_diff.join(F.broadcast(tests.select("t", "m", "d_obs")),
                           "t")
             .groupBy("t", "m")
             .agg((F.lit(1) + F.count(F.when(
                 F.abs(F.col("d")) >= F.abs(F.col("d_obs")), 1)))
                 .cast("bigint").alias("p_num")))
    ranked = pvals.select(
        "t", "m",
        (F.col("p_num").cast("double") / F.lit(float(_BH_B + 1)))
        .alias("p_value"),
        F.row_number().over(Window.orderBy("p_num", "t")).alias("rk"))
    wsuf = (Window.orderBy(F.col("rk").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    adj = ranked.select(
        "t", "p_value", F.col("rk").cast("bigint").alias("rank"),
        F.min(F.col("p_value") * F.col("m").cast("double")
              / F.col("rk").cast("double")).over(wsuf).alias("p_adj"))
    return adj.select(
        F.col("t").alias("event_type"), "p_value", "rank", "p_adj",
        (F.col("p_adj") <= F.lit(_BH_Q)).alias("discovery"))


# ---------------------------------------------------------------------------
# exact ROC-AUC as the rank statistic
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), r AS (
  SELECT pos,
         CAST(2 * rank() OVER (ORDER BY xc)
              + COUNT(*) OVER (PARTITION BY xc) - 1 AS BIGINT) AS r2
  FROM c
), s AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
    CAST(COUNT(*) FILTER (WHERE NOT pos) AS BIGINT) AS n_neg,
    CAST(SUM(r2) FILTER (WHERE pos) AS BIGINT) AS sr2
  FROM r
)
SELECT n_pos, n_neg,
       CAST(sr2 - n_pos * (n_pos + 1) AS DOUBLE)
         / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
FROM s
"""


@register("ml_roc_auc_exact", oracle=_AUC_ORACLE)
def ml_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of 'event value predicts purchase vs click' -- via
    the identity AUC = U/(n_pos*n_neg): the area under the ROC curve IS
    the Mann-Whitney U statistic normalized, so the doubled-average-rank
    machinery (stat_mann_whitney_u) computes it with NO curve
    construction, no threshold grid, no trapezoid approximation -- and
    ties (heavily present in cent-quantized scores) are handled exactly
    where the naive sort-and-sweep miscounts them. The one float is the
    final division.

    Scale shape: the corpus folds to per-value counts (one combinable
    groupBy); the only global window is domain-sized (100x probe: 12x
    row-level -> 2.0x collapsed) -- AUC at 100 TB without materializing
    a curve OR sorting the rows."""
    # domain-collapsed rank sums (the stat_mann_whitney_u rewrite): the
    # row-level global rank window probed 12x for 100x data -- the
    # corpus folds to per-value counts first and the one global window
    # is domain-sized
    dom = _purchase_domain(spark, sf_dir)
    wcum = (Window.orderBy("xc")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum_below = (F.sum("t").over(wcum) - F.col("t")).cast("bigint")
    r = dom.select(
        "t", "p",
        (F.col("p") * (F.lit(2) * cum_below + F.col("t") + 1))
        .cast("bigint").alias("pr2"))
    s = r.agg(
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum(F.col("t") - F.col("p")).cast("bigint").alias("n_neg"),
        F.sum("pr2").cast("bigint").alias("sr2"))
    return s.select("n_pos", "n_neg", _rank_sum_auc().alias("auc"))


# ---------------------------------------------------------------------------
# confusion-matrix threshold sweep
# ---------------------------------------------------------------------------

_SWEEP_ORACLE = """
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), thresholds AS (
  SELECT CAST(unnest(range(1, 10)) * 5000 AS BIGINT) AS thr
), cells AS (
  SELECT thr,
         CAST(COUNT(*) FILTER (WHERE pos AND xc >= thr) AS BIGINT) AS tp,
         CAST(COUNT(*) FILTER (WHERE NOT pos AND xc >= thr) AS BIGINT)
           AS fp,
         CAST(COUNT(*) FILTER (WHERE NOT pos AND xc < thr) AS BIGINT)
           AS tn,
         CAST(COUNT(*) FILTER (WHERE pos AND xc < thr) AS BIGINT) AS fn
  FROM c CROSS JOIN thresholds
  GROUP BY thr
)
SELECT thr AS threshold_cents, tp, fp, tn, fn,
       CASE WHEN tp + fp = 0 THEN 0.0
            ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
         AS precision_at,
       CASE WHEN tp + fn = 0 THEN 0.0
            ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
         AS recall_at,
       CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
            ELSE 2.0 * CAST(tp AS DOUBLE)
                 / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1_at
FROM cells
"""


def _threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pos, xc, thr): the score sample against each of the nine
    thresholds 5000..45000 cents, a broadcast spine fanned out
    map-side."""
    thresholds = spark.range(1, 10).select(
        (F.col("id") * 5000).cast("bigint").alias("thr"))
    return _purchase_scores(spark, sf_dir).crossJoin(
        F.broadcast(thresholds))


def _confusion_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(thr, tp, fp, tn, fn): the confusion matrix at each threshold,
    predicting purchase where xc >= thr, in one combinable groupBy."""
    pred = F.col("xc") >= F.col("thr")
    return (_threshold_pairs(spark, sf_dir)
            .groupBy("thr")
            .agg(F.count(F.when(F.col("pos") & pred, 1)).cast("bigint")
                 .alias("tp"),
                 F.count(F.when(~F.col("pos") & pred, 1)).cast("bigint")
                 .alias("fp"),
                 F.count(F.when(~F.col("pos") & ~pred, 1)).cast("bigint")
                 .alias("tn"),
                 F.count(F.when(F.col("pos") & ~pred, 1)).cast("bigint")
                 .alias("fn")))


@register("ml_confusion_threshold_sweep", oracle=_SWEEP_ORACLE)
def ml_confusion_threshold_sweep(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Confusion matrix swept over nine decision thresholds for the same
    value-predicts-purchase classifier ml_roc_auc_exact scores globally
    -- the operating-point table (TP/FP/TN/FN, precision, recall, F1
    per threshold) a deployment actually picks from: AUC says the
    ranking is good, THIS says where to cut it. Counts are exact
    integers from one conditional fold per threshold; P/R/F1 use the
    2tp/(2tp+fp+fn) F1 identity and spell every 0/0 guard as the same
    CASE in both engines.

    Scale shape: the x9 threshold fan-out is map-side against a
    broadcast spine folding to 9 rows in ONE combinable groupBy (the
    bootstrap shape) -- at 100 TB the sweep costs one pass, not nine."""
    cells = _confusion_cells(spark, sf_dir)
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)) \
        .otherwise(F.col("tp").cast("double")
                   / (F.col("tp") + F.col("fp")).cast("double"))
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)) \
        .otherwise(F.col("tp").cast("double")
                   / (F.col("tp") + F.col("fn")).cast("double"))
    f1 = F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0,
                F.lit(0.0)) \
        .otherwise(F.lit(2.0) * F.col("tp").cast("double")
                   / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
                   .cast("double"))
    return cells.select(
        F.col("thr").alias("threshold_cents"), "tp", "fp", "tn", "fn",
        prec.alias("precision_at"), rec.alias("recall_at"),
        f1.alias("f1_at"))


# ---------------------------------------------------------------------------
# K-fold cross-validated AUC
# ---------------------------------------------------------------------------

_CV_FOLDS = 4

_CV_AUC_ORACLE = f"""
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(concat('0x', substring(md5(CAST(event_id AS VARCHAR)),
                                     1, 8)) AS BIGINT) % {_CV_FOLDS}
           AS fold,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), r AS (
  SELECT pos, fold,
         CAST(2 * rank() OVER (PARTITION BY fold ORDER BY xc)
              + COUNT(*) OVER (PARTITION BY fold, xc) - 1 AS BIGINT)
           AS r2
  FROM c
), s AS (
  SELECT fold,
         CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
         CAST(COUNT(*) FILTER (WHERE NOT pos) AS BIGINT) AS n_neg,
         CAST(SUM(r2) FILTER (WHERE pos) AS BIGINT) AS sr2
  FROM r GROUP BY fold
)
SELECT CAST(fold AS BIGINT) AS fold, n_pos, n_neg,
       CAST(sr2 - n_pos * (n_pos + 1) AS DOUBLE)
         / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
         AS auc_fold
FROM s
"""


@register("ml_cv_auc_per_fold", oracle=_CV_AUC_ORACLE)
def ml_cv_auc_per_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold ROC-AUC under the same deterministic md5 %4 folds as
    ml_target_encode_kfold -- the cross-validation spread that tells a
    modeler whether ml_roc_auc_exact's single global number is STABLE
    or an artifact of one lucky slice; four rank identities instead of
    four model fits. Fold-local doubled-average ranks (the
    stat_mann_whitney_u machinery PARTITIONED BY fold) keep every sum
    BIGINT; one combinable three-sum fold per fold; the single float is
    each fold's final division.

    Scale shape: the corpus folds to (fold, value) counts; the
    cumulative-count pass runs as the two-pass bucketed cumsum
    partitioned BY FOLD (bucketed.py — 4 folds × 256 value buckets of
    parallelism instead of 4 fold-wide window partitions); one
    combinable groupBy to 4 rows."""
    ev = click_purchase_events(spark, sf_dir)
    fold = (F.conv(F.substring(F.md5(F.col("event_id").cast("string")),
                               1, 8), 16, 10).cast("bigint") % _CV_FOLDS)
    xc = round_cents("value")
    # per-fold domain collapse (the ml_roc_auc_exact rewrite): fold the
    # corpus to (fold, value) counts, run the rank arithmetic over the
    # fold-partitioned domain windows
    dom = (ev.select((F.col("event_type") == "purchase").alias("pos"),
                     fold.alias("fold"), xc.alias("xc"))
           .groupBy("fold", "xc")
           .agg(F.count(F.lit(1)).cast("bigint").alias("t"),
                F.count(F.when(F.col("pos"), 1)).cast("bigint")
                .alias("p")))
    cum = bucketed_order(dom, "xc", partition_by=["fold"],
                         cumsum={"cum_t": "t"})
    cum_below = (F.col("cum_t") - F.col("t")).cast("bigint")
    r = cum.select(
        "fold", "t", "p",
        (F.col("p") * (F.lit(2) * cum_below + F.col("t") + 1))
        .cast("bigint").alias("pr2"))
    s = r.groupBy("fold").agg(
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum(F.col("t") - F.col("p")).cast("bigint").alias("n_neg"),
        F.sum("pr2").cast("bigint").alias("sr2"))
    return s.select(
        F.col("fold").cast("bigint").alias("fold"), "n_pos", "n_neg",
        _rank_sum_auc().alias("auc_fold"))


# ---------------------------------------------------------------------------
# chi-square goodness-of-fit: day-of-week uniformity
# ---------------------------------------------------------------------------

_GOF_ORACLE = """
WITH cells AS (
  SELECT CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM orders GROUP BY dayofweek(o_orderdate)
), tot AS (
  SELECT CAST(SUM(obs) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM cells
)
SELECT dow, obs,
       CAST(n AS DOUBLE) / CAST(k AS DOUBLE) AS expected,
       (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) / CAST(k AS DOUBLE))
       * (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) / CAST(k AS DOUBLE))
       / (CAST(n AS DOUBLE) / CAST(k AS DOUBLE)) AS chi2_contrib
FROM cells CROSS JOIN tot
"""


@register("stat_chi_square_gof_dow", oracle=_GOF_ORACLE)
def stat_chi_square_gof_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square GOODNESS-OF-FIT of order volume against a uniform
    day-of-week distribution -- the one-sample counterpart of
    stat_chi_square_independence's two-way table: is traffic flat across
    the week, or does the calendar drive it? Per-cell
    (O-E)^2/E contributions are emitted per dow, never cross-summed
    (the chi-square house rule -- a cross-cell float sum is
    association-order-dependent); observed counts and the total are
    exact BIGINTs; expected = n/7 and each contribution assemble through
    identical trees. DuckDB's 0-based dayofweek is mirrored by shifting
    Spark's 1-based values.

    Scale shape: one combinable groupBy to 7 cells; the 1-row total
    broadcasts back."""
    o = load_table(spark, "orders", sf_dir)
    cells = (o.groupBy((F.dayofweek("o_orderdate") - 1).cast("bigint")
                       .alias("dow"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("obs")))
    tot = cells.agg(F.sum("obs").cast("bigint").alias("n"),
                    F.count(F.lit(1)).cast("bigint").alias("k"))
    exp = F.col("n").cast("double") / F.col("k").cast("double")
    return (cells.crossJoin(F.broadcast(tot))
            .select("dow", "obs", exp.alias("expected"),
                    ((F.col("obs").cast("double") - exp)
                     * (F.col("obs").cast("double") - exp) / exp)
                    .alias("chi2_contrib")))


# ---------------------------------------------------------------------------
# cumulative gains / lift table
# ---------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc,
         event_id
  FROM events WHERE event_type IN ('click', 'purchase')
), ranked AS (
  SELECT pos,
         ntile(10) OVER (ORDER BY xc DESC, event_id) AS decile
  FROM c
), cells AS (
  SELECT CAST(decile AS BIGINT) AS decile,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS n_pos
  FROM ranked GROUP BY decile
), cum AS (
  SELECT decile, n, n_pos,
         CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
         CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
         CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
         CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
  FROM cells
  WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
)
SELECT decile, n, n_pos,
       CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS gains,
       (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))
         / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)) AS lift
FROM cum
"""


@register("ml_lift_gains_table", oracle=_LIFT_ORACLE)
def ml_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift by score decile for the
    value-predicts-purchase ranking -- the campaign-targeting table
    next to ml_roc_auc_exact (AUC scores the whole ranking; gains/lift
    answers 'mail the top 2 deciles, capture what share?'). Deciles
    come from NTILE over the (score desc, event_id) TOTAL order;
    per-decile and cumulative counts are exact integers; gains and lift
    are two exact divisions per row.

    Scale shape: the decile assignment is the two-pass bucketed rank
    (bucketed.py — arithmetic score buckets, broadcast prefix offsets,
    SQL-standard NTILE formula from the exact global rank), so the raw
    EVENT rows never pass through a single-partition window (no 'No
    Partition Defined' window, pinned in test_plans.py); cumulative
    windows then run over the 10 decile cells."""
    c = _purchase_scores(spark, sf_dir, "event_id")
    ranked = bucketed_order(c, "xc", ["event_id"], descending=True,
                            ntile={"decile": 10}).select("pos", "decile")
    cells = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("pos"), 1)).cast("bigint").alias("n_pos"))
    # the 10-row cell table feeds THREE subtrees (x, y, totals), and
    # Catalyst does not share subplans across join branches — without the
    # pin the whole events bucketed-rank lineage ran 3x per query
    cells = cells.localCheckpoint(eager=False)
    # cumulative + totals over the 10 decile cells as a broadcast
    # self-join (y.decile <= x.decile) — even the 10-row windows would
    # be global WindowExecs, and this query's contract is ZERO of them
    x, y = cells.alias("x"), cells.alias("y")
    cum = (x.join(F.broadcast(y), F.col("y.decile") <= F.col("x.decile"))
           .groupBy(F.col("x.decile").alias("decile"))
           .agg(F.max("x.n").cast("bigint").alias("n"),
                F.max("x.n_pos").cast("bigint").alias("n_pos"),
                F.sum("y.n").cast("bigint").alias("cum_n"),
                F.sum("y.n_pos").cast("bigint").alias("cum_pos"))
           .crossJoin(F.broadcast(cells.agg(
               F.sum("n").cast("bigint").alias("tot_n"),
               F.sum("n_pos").cast("bigint").alias("tot_pos")))))
    return cum.select(
        "decile", "n", "n_pos",
        (F.col("cum_pos").cast("double") / F.col("tot_pos").cast("double"))
        .alias("gains"),
        ((F.col("cum_pos").cast("double") / F.col("cum_n").cast("double"))
         / (F.col("tot_pos").cast("double")
            / F.col("tot_n").cast("double"))).alias("lift"))


# ---------------------------------------------------------------------------
# minimum detectable effect / power planning
# ---------------------------------------------------------------------------

# two-sided alpha=0.05 and power=0.80 normal quantiles, frozen literals
# (the Poisson-CDF-thresholds discipline: transcendental constants exist
# only as pasted decimals, never computed at query time)
_Z_ALPHA_2 = 1.959963985
# the SUM is itself a frozen literal: computing z_a + z_b at query time
# parses two decimals and adds (engine-side), which can differ by 1 ulp
# from the Python-side sum -- one shared decimal string removes the add
_Z_SUM = 2.801585219

_MDE_ORACLE = f"""
WITH c AS (
  SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS is_wkend,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
  FROM events
), s AS (
  SELECT
    CAST(SUM(CASE WHEN is_wkend = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN is_wkend = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(is_conv) AS BIGINT) AS x,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM c
)
SELECT n1 AS n_weekend, n2 AS n_weekday,
       CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p_base,
       {_Z_SUM}
         * sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
         AS mde_abs,
       {_Z_SUM}
         * sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
         / (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) AS mde_rel
FROM s
"""


@register("stat_mde_power_binary", oracle=_MDE_ORACLE)
def stat_mde_power_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for the weekend-vs-weekday conversion
    comparison at alpha = 0.05 (two-sided), power = 0.80 -- the A/B
    PLANNING readout that belongs BEFORE stat_two_proportion_z's
    verdict: with these arm sizes and this base rate, how small a lift
    could the test even see? MDE = (z_a/2 + z_b) * sqrt(p(1-p)(1/n1 +
    1/n2)); the two normal quantiles are frozen literals (the
    Poisson-threshold discipline -- no inverse CDF at query time), arm
    sizes and the base rate come from one combinable four-sum fold, and
    the absolute + relative MDE assemble through identical trees.

    Scale shape: a single conditional aggregate over the scan -- the
    cheapest possible planning query at any corpus size."""
    ev = load_table(spark, "events", sf_dir)
    is_wkend = F.dayofweek("ts").isin(1, 7)
    is_conv = (F.col("event_type") == "purchase").cast("int")
    s = ev.agg(
        F.count(F.when(is_wkend, 1)).cast("bigint").alias("n1"),
        F.count(F.when(~is_wkend, 1)).cast("bigint").alias("n2"),
        F.sum(is_conv).cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("n"))
    p = F.col("x").cast("double") / F.col("n").cast("double")
    mde = (F.lit(_Z_SUM)
           * F.sqrt(p * (F.lit(1.0) - p)
                    * (F.lit(1.0) / F.col("n1").cast("double")
                       + F.lit(1.0) / F.col("n2").cast("double"))))
    return s.select(
        F.col("n1").alias("n_weekend"), F.col("n2").alias("n_weekday"),
        p.alias("p_base"), mde.alias("mde_abs"),
        (mde / p).alias("mde_rel"))


# ---------------------------------------------------------------------------
# 2x2 difference-in-differences
# ---------------------------------------------------------------------------

_DID_ORACLE = """
WITH c AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
         dayofweek(ts) IN (0, 6) AS treated,
         dayofmonth(ts) > 15 AS post
  FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT
    CAST(SUM(cents) FILTER (WHERE treated AND post) AS BIGINT) AS s_tp,
    CAST(COUNT(*) FILTER (WHERE treated AND post) AS BIGINT) AS n_tp,
    CAST(SUM(cents) FILTER (WHERE treated AND NOT post) AS BIGINT) AS s_t0,
    CAST(COUNT(*) FILTER (WHERE treated AND NOT post) AS BIGINT) AS n_t0,
    CAST(SUM(cents) FILTER (WHERE NOT treated AND post) AS BIGINT) AS s_cp,
    CAST(COUNT(*) FILTER (WHERE NOT treated AND post) AS BIGINT) AS n_cp,
    CAST(SUM(cents) FILTER (WHERE NOT treated AND NOT post) AS BIGINT)
      AS s_c0,
    CAST(COUNT(*) FILTER (WHERE NOT treated AND NOT post) AS BIGINT)
      AS n_c0
  FROM c
)
SELECT n_tp, n_t0, n_cp, n_c0,
       CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE) / 100.0
         AS mean_treat_post,
       CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE) / 100.0
         AS mean_treat_pre,
       CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE) / 100.0
         AS mean_ctrl_post,
       CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE) / 100.0
         AS mean_ctrl_pre,
       (CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE)
        - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE)
        - (CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)
           - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE))) / 100.0
         AS did_dollars
FROM s
"""


@register("stat_diff_in_diff_2x2", oracle=_DID_ORACLE)
def stat_diff_in_diff_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences, the 2x2 canonical form: weekend
    purchases (treated) vs weekday (control), second half-month (post)
    vs first (pre) -- the causal-inference workhorse that nets out BOTH
    the group's fixed gap and the period's common shock, leaving
    (T_post - T_pre) - (C_post - C_pre) as the effect estimate under
    parallel trends. All four cell means come from ONE conditional
    eight-sum fold over exact cents; the estimator is the standard
    identical tree ending in a single /100 projection to dollars.

    Scale shape: a single combinable conditional aggregate over the
    scan -- the bootstrap-family shape with no spine at all."""
    ev = load_table(spark, "events", sf_dir) \
        .where(F.col("event_type") == "purchase")
    cents = round_cents("value")
    treated = F.dayofweek("ts").isin(1, 7)
    post = F.dayofmonth("ts") > 15
    c = ev.select(cents.alias("cents"), treated.alias("t"),
                  post.alias("p"))
    s = c.agg(
        F.sum(F.when(F.col("t") & F.col("p"), F.col("cents")))
        .cast("bigint").alias("s_tp"),
        F.count(F.when(F.col("t") & F.col("p"), 1)).cast("bigint")
        .alias("n_tp"),
        F.sum(F.when(F.col("t") & ~F.col("p"), F.col("cents")))
        .cast("bigint").alias("s_t0"),
        F.count(F.when(F.col("t") & ~F.col("p"), 1)).cast("bigint")
        .alias("n_t0"),
        F.sum(F.when(~F.col("t") & F.col("p"), F.col("cents")))
        .cast("bigint").alias("s_cp"),
        F.count(F.when(~F.col("t") & F.col("p"), 1)).cast("bigint")
        .alias("n_cp"),
        F.sum(F.when(~F.col("t") & ~F.col("p"), F.col("cents")))
        .cast("bigint").alias("s_c0"),
        F.count(F.when(~F.col("t") & ~F.col("p"), 1)).cast("bigint")
        .alias("n_c0"))
    def m(sc, nc):
        return F.col(sc).cast("double") / F.col(nc).cast("double")
    return s.select(
        "n_tp", "n_t0", "n_cp", "n_c0",
        (m("s_tp", "n_tp") / F.lit(100.0)).alias("mean_treat_post"),
        (m("s_t0", "n_t0") / F.lit(100.0)).alias("mean_treat_pre"),
        (m("s_cp", "n_cp") / F.lit(100.0)).alias("mean_ctrl_post"),
        (m("s_c0", "n_c0") / F.lit(100.0)).alias("mean_ctrl_pre"),
        ((m("s_tp", "n_tp") - m("s_t0", "n_t0")
          - (m("s_cp", "n_cp") - m("s_c0", "n_c0"))) / F.lit(100.0))
        .alias("did_dollars"))


# ---------------------------------------------------------------------------
# Wilson score interval for proportions
# ---------------------------------------------------------------------------

_WILSON_ORACLE = f"""
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS x
  FROM events
), t AS (
  SELECT n, x,
         CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         {_Z_ALPHA_2} * {_Z_ALPHA_2} / CAST(n AS DOUBLE) AS z2n
  FROM s
)
SELECT n, x, p AS p_hat,
       (p + z2n / 2.0
        - {_Z_ALPHA_2} * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
                              + z2n / (4.0 * CAST(n AS DOUBLE))))
         / (1.0 + z2n) AS wilson_lo,
       (p + z2n / 2.0
        + {_Z_ALPHA_2} * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
                              + z2n / (4.0 * CAST(n AS DOUBLE))))
         / (1.0 + z2n) AS wilson_hi
FROM t
"""


@register("stat_proportion_ci_wilson", oracle=_WILSON_ORACLE)
def stat_proportion_ci_wilson(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Wilson score 95% interval for the purchase-conversion rate --
    the proportion CI that stays honest near 0/1 and at small n, where
    the naive Wald interval collapses or escapes [0,1] (why every
    serious A/B platform defaults to Wilson). Two integer counts from
    one fold; the interval assembles through the standard identical
    tree with the z quantile frozen as a literal (the
    stat_mde_power_binary discipline); z^2 appears only as the literal
    times itself, one correctly-rounded multiply in both engines.

    Scale shape: one combinable two-count fold -- nothing else."""
    ev = load_table(spark, "events", sf_dir)
    s = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint").alias("x"))
    nd = F.col("n").cast("double")
    p = F.col("x").cast("double") / nd
    z = F.lit(_Z_ALPHA_2)
    z2n = z * z / nd
    half = z * F.sqrt(p * (F.lit(1.0) - p) / nd
                      + z2n / (F.lit(4.0) * nd))
    return s.select(
        "n", "x", p.alias("p_hat"),
        ((p + z2n / F.lit(2.0) - half) / (F.lit(1.0) + z2n))
        .alias("wilson_lo"),
        ((p + z2n / F.lit(2.0) + half) / (F.lit(1.0) + z2n))
        .alias("wilson_hi"))


# ---------------------------------------------------------------------------
# Brier score of the rank-calibrated score
# ---------------------------------------------------------------------------

_BRIER_ORACLE = """
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), dom AS (
  SELECT xc, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS p
  FROM c GROUP BY xc
), r AS (
  SELECT t, p,
         CAST(2 * (SUM(t) OVER (ORDER BY xc ROWS UNBOUNDED PRECEDING)
                   - t) + t + 1 AS BIGINT) AS r2
  FROM dom
), s AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS x,
         -- Brier*(2N)^2*N in exact HUGEINT: positives contribute
         -- (r2-2N)^2, negatives r2^2, counted per domain value
         SUM(CAST(p AS HUGEINT)
             * (r2 - 2 * (SELECT SUM(t) FROM dom))
             * (r2 - 2 * (SELECT SUM(t) FROM dom))
             + CAST(t - p AS HUGEINT) * r2 * r2) AS ss
  FROM r
)
SELECT n, x,
       CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS base_rate,
       CAST(ss AS DOUBLE)
         / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
            * CAST(n AS DOUBLE)) AS brier
FROM s
"""


@register("ml_brier_score_rank", oracle=_BRIER_ORACLE)
def ml_brier_score_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the rank-calibrated classifier p-hat = midrank/N
    (each row's predicted purchase probability is its value's average
    rank position) -- the CALIBRATION metric that completes the ranking
    trio: AUC says the ORDER is right, lift says WHERE to cut, Brier
    says whether the probabilities themselves can be trusted (mean
    squared (p-hat - y)^2). Scaling by (2N)^2 makes every squared
    residual an exact integer -- positives contribute (r2 - 2N)^2,
    negatives r2^2, both per domain VALUE with multiplicity, summed in
    HUGEINT/decimal(38,0) -- so the whole statistic is one wide-integer
    fold over the ~18k-value domain and a single final division.

    Scale shape: the domain-collapse recipe (ml_roc_auc_exact): one
    combinable groupBy to per-value counts, one domain-sized cumulative
    window, one wide-integer fold."""
    dom = _purchase_domain(spark, sf_dir)
    wcum = (Window.orderBy("xc")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy()
    r = dom.select(
        "t", "p",
        (F.lit(2) * (F.sum("t").over(wcum) - F.col("t"))
         + F.col("t") + 1).cast("bigint").alias("r2"),
        F.sum("t").over(wall).cast("bigint").alias("n_tot"))
    d38 = "decimal(38,0)"
    pos_term = (F.col("p").cast(d38)
                * (F.col("r2") - 2 * F.col("n_tot"))
                * (F.col("r2") - 2 * F.col("n_tot")))
    neg_term = ((F.col("t") - F.col("p")).cast(d38)
                * F.col("r2") * F.col("r2"))
    s = r.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum("p").cast("bigint").alias("x"),
        F.sum(pos_term + neg_term).alias("ss"))
    nd = F.col("n").cast("double")
    return s.select(
        "n", "x",
        (F.col("x").cast("double") / nd).alias("base_rate"),
        (F.col("ss").cast("double") / (F.lit(4.0) * nd * nd * nd))
        .alias("brier"))


# ---------------------------------------------------------------------------
# interrupted time series: pre/post slopes + level shift
# ---------------------------------------------------------------------------

_ITS_CUT = "2024-01-16 00:00:00"

_ITS_ORACLE = f"""
WITH hourly AS (
  SELECT CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT)
           AS hh,
         date_trunc('hour', ts) < TIMESTAMP '{_ITS_CUT}' AS pre,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
), centered AS (
  -- x centered at the cut hour: the intercept IS the fitted value at
  -- the cut, so no large-magnitude extrapolation ever mixes with the
  -- regression's merge-order noise
  SELECT pre, cents,
         hh - (SELECT CAST(epoch_us(TIMESTAMP '{_ITS_CUT}')
                           // 3600000000 AS BIGINT)) AS xc
  FROM hourly
)
SELECT pre AS is_pre, CAST(COUNT(*) AS BIGINT) AS n,
       round(regr_slope(CAST(cents AS DOUBLE), CAST(xc AS DOUBLE)), 6)
         AS slope_cents_per_hr,
       round(regr_intercept(CAST(cents AS DOUBLE), CAST(xc AS DOUBLE)), 6)
         AS fitted_at_cut_cents
FROM centered GROUP BY pre
"""


@register("stat_interrupted_time_series", oracle=_ITS_ORACLE)
def stat_interrupted_time_series(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Interrupted time series, the segmented-regression form: separate
    least-squares trends for the hourly purchase series BEFORE and
    AFTER a cutover date, each extrapolated to the cut point -- the
    pre/post slope change and the fitted LEVEL SHIFT at the boundary
    are the two numbers an ITS analysis reads (the launch/incident
    readout when no control group exists; stat_diff_in_diff_2x2 is the
    with-control sibling). Trends ride the SQL:2003 regr_* builtins
    over exact integer (CUT-CENTERED hour index, cents) pairs, 6-dp
    rounded (merge-order, the agg_regr_builtins precedent); centering
    makes the intercept BE the fitted value at the cut, so no
    large-magnitude extrapolation amplifies regression noise (the
    uncentered draft failed parity at the 6th decimal).

    Scale shape: calendar-bounded hourly pre-agg; one combinable
    two-group regression fold."""
    ev = load_table(spark, "events", sf_dir) \
        .where(F.col("event_type") == "purchase")
    cents = round_cents("value")
    hr = F.date_trunc("hour", "ts")
    hh = F.floor(F.unix_micros(hr.cast("timestamp")) / 3600000000) \
        .cast("bigint")
    cut = F.lit(_ITS_CUT).cast("timestamp")
    hourly = (ev.groupBy(hh.alias("hh"), (hr < cut).alias("pre"))
              .agg(F.sum(cents).cast("bigint").alias("cents")))
    cut_hh = F.floor(F.unix_micros(cut) / 3600000000).cast("bigint")
    centered = hourly.select("pre", "cents",
                             (F.col("hh") - cut_hh).alias("xc"))
    return (centered.groupBy(F.col("pre").alias("is_pre"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.round(F.regr_slope(F.col("cents").cast("double"),
                                      F.col("xc").cast("double")), 6)
                 .alias("slope_cents_per_hr"),
                 F.round(F.regr_intercept(F.col("cents").cast("double"),
                                          F.col("xc").cast("double")), 6)
                 .alias("fitted_at_cut_cents")))


# ---------------------------------------------------------------------------
# learning curve: AUC at deterministic subsample rates
# ---------------------------------------------------------------------------

# u32 thresholds for 25% / 50% / 100% md5 subsamples
_LC_RATES = ((25, 1073741824), (50, 2147483648), (100, 4294967296))

_LC_VALUES = ", ".join(f"({p}, {t})" for p, t in _LC_RATES)

_LC_ORACLE = f"""
WITH rates(pct, thresh) AS (VALUES {_LC_VALUES}),
c AS (
  SELECT event_id, event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc,
         CAST(concat('0x', substring(md5(CAST(event_id AS VARCHAR)
                                         || ':lc'), 1, 8)) AS BIGINT) AS u
  FROM events WHERE event_type IN ('click', 'purchase')
), dom AS (
  SELECT r.pct, c.xc, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(COUNT(*) FILTER (WHERE c.pos) AS BIGINT) AS p
  FROM c JOIN rates r ON c.u < r.thresh
  GROUP BY r.pct, c.xc
), r AS (
  SELECT pct, t, p,
         CAST(2 * (SUM(t) OVER (PARTITION BY pct ORDER BY xc
                                ROWS UNBOUNDED PRECEDING) - t)
              + t + 1 AS BIGINT) AS r2
  FROM dom
), s AS (
  SELECT pct,
         CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(t - p) AS BIGINT) AS n_neg,
         CAST(SUM(p * r2) AS BIGINT) AS sr2
  FROM r GROUP BY pct
)
SELECT CAST(pct AS BIGINT) AS sample_pct, n_pos, n_neg,
       CAST(sr2 - n_pos * (n_pos + 1) AS DOUBLE)
         / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
FROM s
"""


@register("ml_learning_curve_auc", oracle=_LC_ORACLE)
def ml_learning_curve_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for the ranking metric: exact AUC at 25%, 50% and
    100% deterministic md5 subsamples of the two-class data -- the
    does-more-data-still-help readout every scaling decision wants
    BEFORE paying for the next data doubling (a flat curve means the
    metric is saturated; AUC here is data-stable by construction, which
    is exactly what the table demonstrates). Subsampling is the md5
    u32-threshold recipe (bit-identical membership in both engines);
    each rate's AUC rides the domain-collapsed rank identity
    (ml_roc_auc_exact), fanned by a 3-row rate spine BEFORE the domain
    fold, so the whole curve costs one pass plus rate-partitioned
    domain windows.

    Scale shape: x3 spine join (theta on u < thresh -- broadcast
    nested-loop over 3 rows, the sweep discipline); one combinable
    (rate, value) groupBy; rate-partitioned domain windows."""
    u = F.conv(F.substring(F.md5(F.concat(
        F.col("event_id").cast("string"), F.lit(":lc"))), 1, 8),
        16, 10).cast("bigint")
    c = _purchase_scores(spark, sf_dir, u.alias("u"))
    rates = spark.createDataFrame(list(_LC_RATES), "pct long, thresh long")
    dom = (c.join(F.broadcast(rates), F.col("u") < F.col("thresh"))
           .groupBy("pct", "xc")
           .agg(F.count(F.lit(1)).cast("bigint").alias("t"),
                F.count(F.when(F.col("pos"), 1)).cast("bigint")
                .alias("p")))
    wcum = (Window.partitionBy("pct").orderBy("xc")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = dom.select(
        "pct", "t", "p",
        (F.lit(2) * (F.sum("t").over(wcum) - F.col("t"))
         + F.col("t") + 1).cast("bigint").alias("r2"))
    s = r.groupBy("pct").agg(
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum(F.col("t") - F.col("p")).cast("bigint").alias("n_neg"),
        F.sum(F.col("p") * F.col("r2")).cast("bigint").alias("sr2"))
    return s.select(
        F.col("pct").cast("bigint").alias("sample_pct"), "n_pos", "n_neg",
        _rank_sum_auc().alias("auc"))


# ---------------------------------------------------------------------------
# likelihood-ratio G-test cells
# ---------------------------------------------------------------------------

_GTEST_ORACLE = """
WITH cells AS (
  SELECT event_type, CAST(user_id % 3 AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY event_type, CAST(user_id % 3 AS BIGINT)
), m AS (
  SELECT event_type, bucket, obs,
         CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
         CAST(SUM(obs) OVER (PARTITION BY bucket) AS BIGINT) AS col_n,
         CAST(SUM(obs) OVER () AS BIGINT) AS n
  FROM cells
)
SELECT event_type, bucket, obs,
       2.0 * CAST(obs AS DOUBLE)
         * ln(CAST(obs AS DOUBLE)
              / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                 / CAST(n AS DOUBLE))) AS g_contrib
FROM m
"""


@register("stat_g_test_cells", oracle=_GTEST_ORACLE)
def stat_g_test_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Likelihood-ratio G-test contributions over the same
    event_type x user-bucket contingency table as the chi-square pair:
    2*O*ln(O/E) per cell -- the test that stays calibrated where
    Pearson's quadratic approximation strains (small expected counts,
    big tables), and what G-test-based feature selection actually
    computes. Per-cell, never cross-summed (the chi-square house rule);
    counts and marginals exact; ln is the one transcendental in an
    otherwise identical tree.

    Scale shape: one combinable groupBy to 15 cells; windows over
    them."""
    m = _type_bucket_margins(spark, sf_dir)
    exp = (F.col("row_n").cast("double") * F.col("col_n").cast("double")
           / F.col("n").cast("double"))
    return m.select(
        "event_type", "bucket", "obs",
        (F.lit(2.0) * F.col("obs").cast("double")
         * F.log(F.col("obs").cast("double") / exp)).alias("g_contrib"))


# ---------------------------------------------------------------------------
# paired sign test
# ---------------------------------------------------------------------------

_SIGN_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type, date_trunc('hour', ts)
), paired AS (
  SELECT a.cents AS x, b.cents AS y
  FROM hourly a JOIN hourly b
    ON a.hr = b.hr AND a.event_type = 'click'
   AND b.event_type = 'purchase'
), s AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE x > y) AS BIGINT) AS n_plus,
    CAST(COUNT(*) FILTER (WHERE x < y) AS BIGINT) AS n_minus,
    CAST(COUNT(*) FILTER (WHERE x = y) AS BIGINT) AS n_ties
  FROM paired
)
SELECT n_plus, n_minus, n_ties,
       (CAST(n_plus AS DOUBLE)
        - CAST(n_plus + n_minus AS DOUBLE) / 2.0)
       / sqrt(CAST(n_plus + n_minus AS DOUBLE) / 4.0) AS z_stat
FROM s
"""


@register("stat_sign_test_paired", oracle=_SIGN_ORACLE)
def stat_sign_test_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired SIGN test on the hour-matched click/purchase series: does
    one side exceed the other more often than a coin flip? -- the
    PAIRED branch of the test family (Welch/Mann-Whitney compare
    independent samples; pairing on the hour removes the shared
    time-of-day effect entirely), assuming nothing but exchangeability
    of signs. Ties drop (the standard treatment); the normal
    approximation z assembles from three exact integer counts.

    Scale shape: calendar-bounded hourly pre-agg, hour-keyed self-join,
    one three-count fold."""
    paired = _click_purchase_hours(spark, sf_dir, "x", "y")
    s = paired.agg(
        F.count(F.when(F.col("x") > F.col("y"), 1)).cast("bigint")
        .alias("n_plus"),
        F.count(F.when(F.col("x") < F.col("y"), 1)).cast("bigint")
        .alias("n_minus"),
        F.count(F.when(F.col("x") == F.col("y"), 1)).cast("bigint")
        .alias("n_ties"))
    nd = (F.col("n_plus") + F.col("n_minus")).cast("double")
    return s.select(
        "n_plus", "n_minus", "n_ties",
        ((F.col("n_plus").cast("double") - nd / F.lit(2.0))
         / F.sqrt(nd / F.lit(4.0))).alias("z_stat"))


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test
# ---------------------------------------------------------------------------

_WSR_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type, date_trunc('hour', ts)
), d AS (
  SELECT a.cents - b.cents AS diff
  FROM hourly a JOIN hourly b
    ON a.hr = b.hr AND a.event_type = 'click'
   AND b.event_type = 'purchase'
  WHERE a.cents <> b.cents
), r AS (
  SELECT diff,
         CAST(2 * rank() OVER (ORDER BY abs(diff))
              + COUNT(*) OVER (PARTITION BY abs(diff)) - 1 AS BIGINT)
           AS r2
  FROM d
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN diff > 0 THEN r2 ELSE 0 END) AS BIGINT)
           AS w_plus_x2
  FROM r
), tie AS (
  -- tie correction sum(t^3 - t) over groups of equal |d| (r6 ADVICE):
  -- exact BIGINT fold, consistent with the tie-corrected MWU/KW siblings
  SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS tie_cube
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM d GROUP BY abs(diff))
)
SELECT n, w_plus_x2,
       (CAST(w_plus_x2 AS DOUBLE) / 2.0
        - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
       / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
              * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
              - CAST(tie_cube AS DOUBLE) / 48.0) AS z_stat
FROM s CROSS JOIN tie
"""


@register("stat_wilcoxon_signed_rank", oracle=_WSR_ORACLE)
def stat_wilcoxon_signed_rank(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Wilcoxon SIGNED-RANK test on the hour-paired differences: the
    sign test weighted by magnitude rank -- more power when larger
    gaps lean one way, still no normality assumption; the standard
    middle ground between the sign test (signs only) and the paired t
    (full magnitudes). Zero differences drop; |d| ranks ride the
    doubled-average-rank trick (2W+ stays an exact BIGINT under ties);
    the normal z uses mean n(n+1)/4 and the TIE-CORRECTED variance
    n(n+1)(2n+1)/24 - sum(t^3-t)/48 (consistent with the tie-corrected
    stat_mann_whitney_u / stat_kruskal_wallis siblings) in an identical
    tree.

    Scale shape: calendar-bounded pairs; one rank window over the
    ~700-row paired series; one two-sum fold."""
    d = (_click_purchase_hours(spark, sf_dir, "x", "y")
         .where(F.col("x") != F.col("y"))
         .select((F.col("x") - F.col("y")).alias("diff"))
         .localCheckpoint(eager=False))  # rank + tie folds share it
    r2 = (F.lit(2) * F.rank().over(Window.orderBy(F.abs("diff")))
          + F.count(F.lit(1)).over(Window.partitionBy(F.abs("diff")))
          - 1).cast("bigint")
    r = d.select("diff", r2.alias("r2"))
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("diff") > 0, F.col("r2")).otherwise(F.lit(0)))
        .cast("bigint").alias("w_plus_x2"))
    tie = (d.groupBy(F.abs("diff").alias("ad"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
           .agg(F.coalesce(F.sum(F.col("t") * F.col("t") * F.col("t")
                                 - F.col("t")), F.lit(0))
                .cast("bigint").alias("tie_cube")))
    s = s.crossJoin(F.broadcast(tie))
    nd = F.col("n").cast("double")
    mean_w = nd * (nd + F.lit(1.0)) / F.lit(4.0)
    # tie-corrected variance: subtract sum(t^3 - t)/48,
    # matching the tie-corrected Mann-Whitney / Kruskal-Wallis siblings
    var_w = (nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0))
             / F.lit(24.0)
             - F.col("tie_cube").cast("double") / F.lit(48.0))
    return s.select(
        "n", "w_plus_x2",
        ((F.col("w_plus_x2").cast("double") / F.lit(2.0) - mean_w)
         / F.sqrt(var_w)).alias("z_stat"))


# ---------------------------------------------------------------------------
# Friedman test across event types, hours as blocks
# ---------------------------------------------------------------------------

_FRIEDMAN_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr, event_type,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY date_trunc('hour', ts), event_type
), complete_blocks AS (
  SELECT hr FROM hourly GROUP BY hr HAVING COUNT(*) = 5
), ranked AS (
  SELECT h.hr, h.event_type,
         CAST(2 * rank() OVER (PARTITION BY h.hr ORDER BY h.cents)
              + COUNT(*) OVER (PARTITION BY h.hr, h.cents) - 1
              AS BIGINT) AS r2
  FROM hourly h JOIN complete_blocks b ON h.hr = b.hr
), sums AS (
  SELECT event_type, CAST(SUM(r2) AS BIGINT) AS rs2,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ranked GROUP BY event_type
), fold AS (
  SELECT MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(rs2 * rs2) AS BIGINT) AS sum_rs2_sq
  FROM sums
)
SELECT n AS n_blocks, k AS n_treatments,
       -- doubled ranks: R_j = rs2/2, so sum R_j^2 = sum_rs2_sq/4
       12.0 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
               * (CAST(k AS DOUBLE) + 1.0))
         * (CAST(sum_rs2_sq AS DOUBLE) / 4.0)
         - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
         AS friedman_chi2
FROM fold
"""


@register("stat_friedman_test", oracle=_FRIEDMAN_ORACLE)
def stat_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the five event types differ, ranking WITHIN
    each hour block? -- the k-related-samples generalization of the
    paired tests (each hour is a block, so time-of-day effects cancel
    by construction; ANOVA's parametric assumptions never enter). Only
    COMPLETE blocks (all 5 types present) rank; within-block ranks ride
    the doubled-average-rank trick so every sum is BIGINT; the
    statistic 12/(nk(k+1))*sum R_j^2 - 3n(k+1) assembles through an
    identical tree (doubled-rank sums divide by 4 exactly once).

    Scale shape: calendar-bounded blocks; rank windows partition BY
    BLOCK (5 rows each, perfectly parallel); two combinable folds."""
    ev = load_table(spark, "events", sf_dir)
    cents = round_cents("value")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("hr"),
                         "event_type")
              .agg(F.sum(cents).cast("bigint").alias("cents")))
    complete = (hourly.groupBy("hr")
                .agg(F.count(F.lit(1)).alias("kcnt"))
                .where(F.col("kcnt") == 5).select("hr"))
    h = hourly.join(complete, "hr")
    r2 = (F.lit(2) * F.rank().over(Window.partitionBy("hr")
                                   .orderBy("cents"))
          + F.count(F.lit(1)).over(Window.partitionBy("hr", "cents"))
          - 1).cast("bigint")
    ranked = h.select("event_type", r2.alias("r2"))
    sums = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("bigint").alias("rs2"),
        F.count(F.lit(1)).cast("bigint").alias("n"))
    fold = sums.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("rs2") * F.col("rs2")).cast("bigint")
        .alias("sum_rs2_sq"))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    return fold.select(
        F.col("n").alias("n_blocks"), F.col("k").alias("n_treatments"),
        (F.lit(12.0) / (nd * kd * (kd + F.lit(1.0)))
         * (F.col("sum_rs2_sq").cast("double") / F.lit(4.0))
         - F.lit(3.0) * nd * (kd + F.lit(1.0))).alias("friedman_chi2"))


# ---------------------------------------------------------------------------
# Kruskal-Wallis H across all five event types
# ---------------------------------------------------------------------------

_KW_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events
), dom AS (
  SELECT xc, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM c GROUP BY xc, event_type
), vals AS (
  SELECT xc, CAST(SUM(c) AS BIGINT) AS t FROM dom GROUP BY xc
), r AS (
  SELECT xc, t,
         CAST(2 * (SUM(t) OVER (ORDER BY xc ROWS UNBOUNDED PRECEDING)
                   - t) + t + 1 AS BIGINT) AS r2
  FROM vals
), grp AS (
  SELECT d.event_type,
         CAST(SUM(d.c) AS BIGINT) AS n_j,
         CAST(SUM(d.c * r.r2) AS BIGINT) AS rs2_j
  FROM dom d JOIN r ON d.xc = r.xc
  GROUP BY d.event_type
), ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tt FROM vals
), fold AS (
  SELECT CAST(SUM(n_j) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         -- sum R_j^2/n_j with doubled ranks: (rs2_j/2)^2/n_j, summed in
         -- FIXED event_type order (the ANOVA rule)
         list_sum(list(CAST(rs2_j AS DOUBLE) * CAST(rs2_j AS DOUBLE)
                       / (4.0 * CAST(n_j AS DOUBLE))
                       ORDER BY event_type)) AS srsq
  FROM grp
)
SELECT f.n, f.k,
       round((12.0 / (CAST(f.n AS DOUBLE) * (CAST(f.n AS DOUBLE) + 1.0))
              * f.srsq - 3.0 * (CAST(f.n AS DOUBLE) + 1.0))
             / (1.0 - CAST(ties.tt AS DOUBLE)
                      / (CAST(f.n AS DOUBLE) * CAST(f.n AS DOUBLE)
                         * CAST(f.n AS DOUBLE) - CAST(f.n AS DOUBLE))),
             6) AS kruskal_h
FROM fold f CROSS JOIN ties
"""


@register("stat_kruskal_wallis", oracle=_KW_ORACLE)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across all five event types -- the
    nonparametric one-way ANOVA (stat_mann_whitney_u's k-sample
    generalization, stat_anova_oneway_f without the normality
    assumption), tie-corrected. Fully DOMAIN-COLLAPSED: pooled ranks,
    per-group rank sums (sum over values of c_jv * r2_v) and the tie
    term all derive from per-(value, type) counts, so nothing row-sized
    survives the first exchange; the one cross-group float sum
    (sum R_j^2/n_j, doubled ranks dividing by 4 exactly once) folds in
    FIXED type order and H rounds 6 dp (the fold + tie division).

    Scale shape: one combinable (value, type) groupBy; one domain-sized
    cumulative window; two tiny folds."""
    ev = load_table(spark, "events", sf_dir)
    xc = round_cents("value")
    dom = (ev.select("event_type", xc.alias("xc"))
           .groupBy("xc", "event_type")
           .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    vals = dom.groupBy("xc").agg(F.sum("c").cast("bigint").alias("t"))
    wcum = (Window.orderBy("xc")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = vals.select(
        "xc", "t",
        (F.lit(2) * (F.sum("t").over(wcum) - F.col("t"))
         + F.col("t") + 1).cast("bigint").alias("r2"))
    grp = (dom.join(r.select("xc", "r2"), "xc")
           .groupBy("event_type")
           .agg(F.sum("c").cast("bigint").alias("n_j"),
                F.sum(F.col("c") * F.col("r2")).cast("bigint")
                .alias("rs2_j")))
    ties = vals.agg(F.sum(F.col("t") * F.col("t") * F.col("t")
                          - F.col("t")).cast("bigint").alias("tt"))
    term = (F.col("rs2_j").cast("double") * F.col("rs2_j").cast("double")
            / (F.lit(4.0) * F.col("n_j").cast("double")))
    fold = grp.agg(
        F.sum("n_j").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        ordered_fold(["event_type"], term).alias("srsq"))
    nd = F.col("n").cast("double")
    h_raw = (F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("srsq")
             - F.lit(3.0) * (nd + F.lit(1.0)))
    corr = (F.lit(1.0) - F.col("tt").cast("double")
            / (nd * nd * nd - nd))
    return (fold.crossJoin(F.broadcast(ties))
            .select("n", "k",
                    F.round(h_raw / corr, 6).alias("kruskal_h")))


# ---------------------------------------------------------------------------
# Mood's median test cells
# ---------------------------------------------------------------------------

_MOOD_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events
), dom AS (
  SELECT xc, CAST(COUNT(*) AS BIGINT) AS t FROM c GROUP BY xc
), med AS (
  -- grand DISCRETE median off the value domain (the brown_forsythe
  -- collapse): smallest value whose running count reaches ceil(n/2)
  SELECT MIN(xc) AS gmed FROM (
    SELECT xc,
           SUM(t) OVER (ORDER BY xc ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(t) OVER () AS n
    FROM dom) WHERE cum >= (n + 1) // 2
), cells AS (
  SELECT c.event_type, c.xc > med.gmed AS above,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM c CROSS JOIN med GROUP BY c.event_type, c.xc > med.gmed
), m AS (
  SELECT event_type, above, obs,
         CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
         CAST(SUM(obs) OVER (PARTITION BY above) AS BIGINT) AS col_n,
         CAST(SUM(obs) OVER () AS BIGINT) AS n
  FROM cells
)
SELECT event_type, above, obs,
       (CAST(obs AS DOUBLE)
        - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
          / CAST(n AS DOUBLE))
       * (CAST(obs AS DOUBLE)
          - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
            / CAST(n AS DOUBLE))
       / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
          / CAST(n AS DOUBLE)) AS chi2_contrib
FROM m
"""


@register("stat_mood_median_test", oracle=_MOOD_ORACLE)
def stat_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: per-type counts above vs at-or-below the
    GRAND discrete median, with per-cell chi-square contributions --
    the bluntest of the k-sample location tests (only the side of the
    median matters), and therefore the most outlier-proof: the
    robustness extreme of the ladder that runs ANOVA -> Kruskal-Wallis
    -> this. The grand median comes off the value DOMAIN (the
    brown_forsythe collapse); cells and marginals are exact integers;
    contributions stay per-cell (the chi-square house rule).

    Scale shape: one domain fold + domain-sized median window; one
    10-cell groupBy with a broadcast 1-row median."""
    ev = load_table(spark, "events", sf_dir)
    xc = round_cents("value")
    c = ev.select("event_type", xc.alias("xc"))
    dom = c.groupBy("xc").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    wcum = (Window.orderBy("xc")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy()
    med = (dom.select("xc",
                      F.sum("t").over(wcum).alias("cum"),
                      F.sum("t").over(wall).alias("n"))
           .where(F.col("cum") >= F.floor((F.col("n") + 1) / 2))
           .agg(F.min("xc").alias("gmed")))
    cells = (c.crossJoin(F.broadcast(med))
             .groupBy("event_type", (F.col("xc") > F.col("gmed"))
                      .alias("above"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("obs")))
    row_n = F.sum("obs").over(Window.partitionBy("event_type")) \
        .cast("bigint")
    col_n = F.sum("obs").over(Window.partitionBy("above")).cast("bigint")
    n = F.sum("obs").over(wall).cast("bigint")
    m = cells.select("event_type", "above", "obs",
                     row_n.alias("row_n"), col_n.alias("col_n"),
                     n.alias("n"))
    exp = (F.col("row_n").cast("double") * F.col("col_n").cast("double")
           / F.col("n").cast("double"))
    return m.select(
        "event_type", "above", "obs",
        ((F.col("obs").cast("double") - exp)
         * (F.col("obs").cast("double") - exp) / exp)
        .alias("chi2_contrib"))


# ---------------------------------------------------------------------------
# Fisher-z confidence interval for the hourly correlation
# ---------------------------------------------------------------------------

_FISHER_Z_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type, date_trunc('hour', ts)
), paired AS (
  SELECT a.cents AS x, b.cents AS y
  FROM hourly a JOIN hourly b
    ON a.hr = b.hr AND a.event_type = 'click'
   AND b.event_type = 'purchase'
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM paired
), r AS (
  SELECT n,
         (CAST(CAST(sxy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
         / sqrt((CAST(CAST(sxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                    / CAST(n AS DOUBLE))
                   * (CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                      / CAST(n AS DOUBLE)))
                * (CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                   / CAST(n AS DOUBLE)
                   - (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                      / CAST(n AS DOUBLE))
                     * (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                        / CAST(n AS DOUBLE)))) AS r
  FROM s
), z AS (
  SELECT n, r,
         0.5 * ln((1.0 + r) / (1.0 - r)) AS zr,
         {_Z_ALPHA_2} / sqrt(CAST(n AS DOUBLE) - 3.0) AS half
  FROM r
)
SELECT n AS n_hours, round(r, 6) AS pearson_r,
       round((exp(2.0 * (zr - half)) - 1.0)
             / (exp(2.0 * (zr - half)) + 1.0), 6) AS ci_lo,
       round((exp(2.0 * (zr + half)) - 1.0)
             / (exp(2.0 * (zr + half)) + 1.0), 6) AS ci_hi
FROM z
"""


@register("stat_fisher_z_corr_ci", oracle=_FISHER_Z_ORACLE)
def stat_fisher_z_corr_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-z 95% confidence interval for the hourly click/purchase
    Pearson correlation: z = atanh(r) is approximately normal with
    SE = 1/sqrt(n-3), so the CI transforms back through tanh -- the
    INTERVAL the point correlation (ts_rolling_corr, stat_spearman_rho)
    never carries, and the difference between 'r = 0.3' and 'r = 0.3
    +/- 0.4'. Moments ride HUGEINT/decimal(38,0) with the VARCHAR
    correct-rounding hop (the ACF discipline); ln/exp are the
    transcendentals, so r and both bounds round 6 dp; the z quantile is
    the frozen literal.

    Scale shape: calendar-bounded pairs; one combinable five-sum
    fold."""
    paired = _click_purchase_hours(spark, sf_dir, "x", "y")
    d38 = "decimal(38,0)"
    s = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"))

    def hop(col):
        return F.col(col).cast("string").cast("double")

    nd = F.col("n").cast("double")
    ax, ay = hop("sx") / nd, hop("sy") / nd
    axy, axx, ayy = hop("sxy") / nd, hop("sxx") / nd, hop("syy") / nd
    r = pearson_finish(ax, ay, axy, axx, ayy)
    zr = F.lit(0.5) * F.log((F.lit(1.0) + r) / (F.lit(1.0) - r))
    half = F.lit(_Z_ALPHA_2) / F.sqrt(nd - F.lit(3.0))

    def back(l):
        return ((F.exp(F.lit(2.0) * l) - 1.0)
                / (F.exp(F.lit(2.0) * l) + 1.0))

    return s.select(
        F.col("n").alias("n_hours"),
        F.round(r, 6).alias("pearson_r"),
        F.round(back(zr - half), 6).alias("ci_lo"),
        F.round(back(zr + half), 6).alias("ci_hi"))

# ---------------------------------------------------------------------------
# exact PR-AUC (step interpolation)
# ---------------------------------------------------------------------------

# fixed-point quantum for cross-threshold term sums: each per-threshold
# term is computed through an IDENTICAL double tree in both engines (so
# the doubles are bit-equal), then quantized to an integer in 1e-12 units
# — integer addition is associative, so the cross-threshold sum is
# partition-order-free in Spark AND engine-portable (the
# llm_embedding_pq_quantize fixed-point-error-sum discipline applied to a
# value-exact oracle).
_PR_Q = 1_000_000_000_000

_PR_AUC_ORACLE = f"""
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), dom AS (
  SELECT xc, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS p
  FROM c GROUP BY xc
), cum AS (
  SELECT xc, t, p,
         CAST(SUM(t) OVER w AS BIGINT) AS cum_t,
         CAST(SUM(p) OVER w AS BIGINT) AS cum_p
  FROM dom
  WINDOW w AS (ORDER BY xc DESC ROWS UNBOUNDED PRECEDING)
), tot AS (
  SELECT CAST(SUM(p) AS BIGINT) AS np,
         CAST(SUM(t - p) AS BIGINT) AS nn,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM dom
), terms AS (
  SELECT CAST(round((CAST(p AS DOUBLE) / CAST(tot.np AS DOUBLE))
                    * (CAST(cum_p AS DOUBLE) / CAST(cum_t AS DOUBLE))
                    * {_PR_Q}, 0) AS BIGINT) AS q
  FROM cum CROSS JOIN tot
)
SELECT tot.np AS n_pos, tot.nn AS n_neg, tot.k AS n_thresholds,
       CAST(tot.np AS DOUBLE) / CAST(tot.np + tot.nn AS DOUBLE)
         AS baseline_precision,
       CAST(CAST(SUM(terms.q) AS BIGINT) AS DOUBLE) / {_PR_Q}.0 AS pr_auc
FROM terms CROSS JOIN tot
GROUP BY tot.np, tot.nn, tot.k
"""


@register("ml_pr_auc_exact", oracle=_PR_AUC_ORACLE)
def ml_pr_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT area under the precision–recall curve (step interpolation,
    the average-precision identity AP = Σ ΔR_i · P_i) for the
    value-predicts-purchase ranking — the imbalanced-data companion to
    ml_roc_auc_exact: ROC-AUC stays optimistic when positives are rare,
    PR-AUC reads against the baseline_precision floor. The corpus
    collapses to per-score-value counts; each threshold's term
    (Δrecall · precision) is one identical double tree quantized to
    1e-12 units, so the cross-threshold fold is an associative BIGINT
    sum — no float-order hazard at any partitioning.

    Scale shape: one combinable domain collapse (score values, bounded
    cents domain); one cumulative window over the DOMAIN (bounded by
    construction, the ml_roc_auc_exact precedent); a broadcast
    one-row total; one integer fold to a single row."""
    dom = _purchase_domain(spark, sf_dir)
    wd = (Window.orderBy(F.col("xc").desc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = dom.select(
        "t", "p",
        F.sum("t").over(wd).cast("bigint").alias("cum_t"),
        F.sum("p").over(wd).cast("bigint").alias("cum_p"))
    tot = dom.agg(F.sum("p").cast("bigint").alias("np"),
                  F.sum(F.col("t") - F.col("p")).cast("bigint").alias("nn"),
                  F.count(F.lit(1)).cast("bigint").alias("k"))
    term = ((F.col("p").cast("double") / F.col("np").cast("double"))
            * (F.col("cum_p").cast("double") / F.col("cum_t").cast("double")))
    q = F.round(term * F.lit(_PR_Q), 0).cast("bigint")
    return (cum.crossJoin(F.broadcast(tot))
            .select("np", "nn", "k", q.alias("q"))
            .groupBy("np", "nn", "k")
            .agg(F.sum("q").cast("bigint").alias("qs"))
            .select(F.col("np").alias("n_pos"), F.col("nn").alias("n_neg"),
                    F.col("k").alias("n_thresholds"),
                    (F.col("np").cast("double")
                     / (F.col("np") + F.col("nn")).cast("double"))
                    .alias("baseline_precision"),
                    (F.col("qs").cast("double") / F.lit(float(_PR_Q)))
                    .alias("pr_auc")))


# ---------------------------------------------------------------------------
# calibration / reliability table
# ---------------------------------------------------------------------------

_CAL_BINS = 10


def _calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, xc, pos, m): the score sample in ten fixed-width score bins,
    integer-exact edges (xc·10) div (m+1) against the broadcast max m."""
    c = _purchase_scores(spark, sf_dir)
    mx = c.agg(F.max("xc").cast("bigint").alias("m"))
    return (c.crossJoin(F.broadcast(mx))
            .select(F.least(F.lit(_CAL_BINS - 1),
                            F.floor(F.col("xc") * _CAL_BINS
                                    / (F.col("m") + 1)))
                    .cast("bigint").alias("bin"), "xc", "pos", "m"))

_CAL_ORACLE = f"""
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), mx AS (
  SELECT CAST(MAX(xc) AS BIGINT) AS m FROM c
), binned AS (
  SELECT LEAST({_CAL_BINS - 1}, (xc * {_CAL_BINS}) // (m + 1)) AS bin,
         xc, pos, m
  FROM c CROSS JOIN mx
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
       CAST(CAST(SUM(xc) AS BIGINT) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(m) AS DOUBLE))
         AS mean_pred,
       CAST(COUNT(*) FILTER (WHERE pos) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS obs_rate,
       CAST(CAST(SUM(xc) AS BIGINT) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(m) AS DOUBLE))
         - CAST(COUNT(*) FILTER (WHERE pos) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS calibration_gap
FROM binned GROUP BY bin
"""


@register("ml_calibration_reliability", oracle=_CAL_ORACLE)
def ml_calibration_reliability(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Reliability (calibration) table for the value-as-score ranking:
    ten fixed-width score bins, each reporting mean normalized score
    vs observed positive rate and their gap — the table behind every
    calibration curve, and what ml_brier_score_rank summarizes into one
    number. Bin edges are integer-exact ((xc·10) div (max+1), broadcast
    max), counts exact, three divisions per bin row.

    Scale shape: one broadcast 1-row max; one combinable 10-group
    fold — the whole query is two map-side passes and a 10-row
    result."""
    mean_pred = (F.sum("xc").cast("bigint").cast("double")
                 / (F.count(F.lit(1)).cast("double")
                    * F.max("m").cast("double")))
    obs = (F.count(F.when(F.col("pos"), 1)).cast("double")
           / F.count(F.lit(1)).cast("double"))
    return (_calibration_bins(spark, sf_dir).groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.count(F.when(F.col("pos"), 1)).cast("bigint")
                 .alias("n_pos"),
                 mean_pred.alias("mean_pred"),
                 obs.alias("obs_rate"),
                 (mean_pred - obs).alias("calibration_gap")))


# ---------------------------------------------------------------------------
# Jarque–Bera normality test
# ---------------------------------------------------------------------------

_JB_ORACLE = """
WITH c AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS s1,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2,
         CAST(SUM(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
         CAST(SUM(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
  FROM c
), m AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
  FROM s
), cm AS (
  SELECT n, mu,
         r2 - mu * mu AS m2,
         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
            - 3.0 * mu * mu * mu * mu AS m4
  FROM m
)
SELECT n,
       m3 / (m2 * sqrt(m2)) AS skewness,
       m4 / (m2 * m2) - 3.0 AS excess_kurtosis,
       CAST(n AS DOUBLE) / 6.0
         * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
            + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0)
         AS jarque_bera
FROM cm
"""


@register("stat_jarque_bera", oracle=_JB_ORACLE)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test on purchase cents — the one-number
    is-it-Gaussian gate (JB = n/6·(S² + K²/4)) that should be read
    before any of the z-based tests in this family trusts its normal
    approximation. All four raw power sums are EXACT decimal(38,0)
    integers (x⁴ passes int64, the HUGEINT moment discipline); central
    moments and JB assemble through one identical double tree; the only
    root is sqrt (correctly rounded in both engines), so the result is
    bit-exact with NO tolerance and no rounding.

    Scale shape: ONE combinable four-sum fold over the scan to a single
    row — the same shape as stat_ols_two_feature's normal equations."""
    ev = load_table(spark, "events", sf_dir) \
        .where(F.col("event_type") == "purchase")
    x = round_cents("value")
    xd = x.cast("decimal(38,0)")
    s = ev.select(x.alias("x"), xd.alias("xd")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xd").alias("s1"),
        F.sum(F.col("xd") * F.col("x")).alias("s2"),
        F.sum(F.col("xd") * F.col("x") * F.col("x")).alias("s3"),
        F.sum(F.col("xd") * F.col("x") * F.col("x") * F.col("x"))
        .alias("s4"))
    nd = F.col("n").cast("double")
    _, _, skew, kurt = central_moments()
    return s.select(
        "n", skew.alias("skewness"), kurt.alias("excess_kurtosis"),
        (nd / F.lit(6.0) * (skew * skew + kurt * kurt / F.lit(4.0)))
        .alias("jarque_bera"))


# ---------------------------------------------------------------------------
# McNemar's paired test
# ---------------------------------------------------------------------------

_MCNEMAR_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type, date_trunc('hour', ts)
), paired AS (
  SELECT x.hr, x.cents AS hc, y.cents AS pc
  FROM (SELECT hr, cents FROM hourly WHERE event_type = 'click') x
  JOIN (SELECT hr, cents FROM hourly WHERE event_type = 'purchase') y
    ON x.hr = y.hr
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(hc) AS BIGINT) AS sc,
         CAST(SUM(pc) AS BIGINT) AS sp
  FROM paired
), flags AS (
  -- integer-safe above-own-mean flags: cents * k > series total
  SELECT (hc * k > sc) AS fa, (pc * k > sp) AS fb
  FROM paired CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(COUNT(*) FILTER (WHERE fa AND fb) AS BIGINT) AS n_both_hi,
       CAST(COUNT(*) FILTER (WHERE fa AND NOT fb) AS BIGINT) AS b,
       CAST(COUNT(*) FILTER (WHERE NOT fa AND fb) AS BIGINT) AS c,
       (CAST(COUNT(*) FILTER (WHERE fa AND NOT fb) AS DOUBLE)
        - CAST(COUNT(*) FILTER (WHERE NOT fa AND fb) AS DOUBLE))
       * (CAST(COUNT(*) FILTER (WHERE fa AND NOT fb) AS DOUBLE)
          - CAST(COUNT(*) FILTER (WHERE NOT fa AND fb) AS DOUBLE))
       / (CAST(COUNT(*) FILTER (WHERE fa AND NOT fb) AS DOUBLE)
          + CAST(COUNT(*) FILTER (WHERE NOT fa AND fb) AS DOUBLE))
         AS mcnemar_chi2
FROM flags
"""


@register("stat_mcnemar_paired", oracle=_MCNEMAR_ORACLE)
def stat_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on hour-paired binary outcomes: is an hour being
    above-average for CLICK revenue associated with the SAME hour being
    above-average for PURCHASE revenue? Only the discordant cells (b =
    click-hi/purchase-lo, c = the reverse) carry information —
    χ² = (b−c)²/(b+c), the CLASSICAL uncorrected form (documented; the
    continuity-corrected variant subtracts 1 from |b−c|). The
    above-own-mean flags are INTEGER-safe cross-multiplications
    (cents·k > Σcents — no float mean anywhere), the agg_pareto_cutoff
    trick applied to a test statistic.

    Scale shape: calendar-bounded hourly fold; one broadcast 1-row
    total; one combinable four-count fold to a single row."""
    paired = (_click_purchase_hours(spark, sf_dir, "hc", "pc")
              .select("hr", "hc", "pc"))
    tot = paired.agg(F.count(F.lit(1)).cast("bigint").alias("k"),
                     F.sum("hc").cast("bigint").alias("sc"),
                     F.sum("pc").cast("bigint").alias("sp"))
    flags = (paired.crossJoin(F.broadcast(tot))
             .select((F.col("hc") * F.col("k") > F.col("sc")).alias("fa"),
                     (F.col("pc") * F.col("k") > F.col("sp")).alias("fb")))
    b = F.count(F.when(F.col("fa") & ~F.col("fb"), 1)).cast("double")
    c = F.count(F.when(~F.col("fa") & F.col("fb"), 1)).cast("double")
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.count(F.when(F.col("fa") & F.col("fb"), 1)).cast("bigint")
        .alias("n_both_hi"),
        F.count(F.when(F.col("fa") & ~F.col("fb"), 1)).cast("bigint")
        .alias("b"),
        F.count(F.when(~F.col("fa") & F.col("fb"), 1)).cast("bigint")
        .alias("c"),
        ((b - c) * (b - c) / (b + c)).alias("mcnemar_chi2"))


# ---------------------------------------------------------------------------
# Hodges–Lehmann location shift
# ---------------------------------------------------------------------------

_HL_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type, date_trunc('hour', ts)
), d AS (
  SELECT x.hr, x.cents - y.cents AS diff
  FROM (SELECT hr, cents FROM hourly WHERE event_type = 'click') x
  JOIN (SELECT hr, cents FROM hourly WHERE event_type = 'purchase') y
    ON x.hr = y.hr
), walsh AS (
  -- all pairs i <= j, keeping the SUM (2x the Walsh average) integer
  SELECT a.hr AS ha, b.hr AS hb, a.diff + b.diff AS w
  FROM d a JOIN d b ON a.hr <= b.hr
), ranked AS (
  SELECT w, row_number() OVER (ORDER BY w, ha, hb) AS rk,
         COUNT(*) OVER () AS m
  FROM walsh
)
SELECT CAST(MAX(m) AS BIGINT) AS n_walsh_pairs,
       -- median of w/2: average the two middle doubled values, /4
       (CAST(MIN(CASE WHEN rk = (m + 1) // 2 THEN w END) AS DOUBLE)
        + CAST(MIN(CASE WHEN rk = (m + 2) // 2 THEN w END) AS DOUBLE))
       / 4.0 AS hl_shift_cents
FROM ranked
"""


@register("stat_hodges_lehmann_shift", oracle=_HL_ORACLE)
def stat_hodges_lehmann_shift(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Hodges–Lehmann estimator of the paired click−purchase hourly
    shift: the MEDIAN of all Walsh averages (dᵢ+dⱼ)/2 over pairs
    i ≤ j — the location estimate that goes with the Wilcoxon
    signed-rank test (stat_wilcoxon_signed_rank says WHETHER the shift
    is real; this says HOW BIG, robustly). Walsh SUMS stay integer
    (halving deferred to the final expression); the median is a
    rank-pick, averaging the two middle values for even counts.

    Scale shape: the O(k²) Walsh expansion is calendar-bounded (the
    Theil–Sen discipline, ~250k pairs on ~700 hours); the global
    median rank is the two-pass bucketed rank (bucketed.py — no
    single-partition window over the pair table)."""
    d = (_click_purchase_hours(spark, sf_dir, "hc", "pc")
         .select("hr", (F.col("hc") - F.col("pc")).alias("diff"))
         .localCheckpoint(eager=False))  # both pair sides share it
    a, b = d.alias("a"), d.alias("b")
    walsh = (a.join(b, F.col("a.hr") <= F.col("b.hr"))
             .select(F.col("a.hr").alias("ha"), F.col("b.hr").alias("hb"),
                     (F.col("a.diff") + F.col("b.diff")).alias("w")))
    tot = walsh.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    ranked = (bucketed_order(walsh, "w", ["ha", "hb"], rank_col="rk")
              .crossJoin(F.broadcast(tot)))
    lo = F.floor((F.col("m") + 1) / 2)
    hi = F.floor((F.col("m") + 2) / 2)
    return ranked.agg(
        F.max("m").cast("bigint").alias("n_walsh_pairs"),
        ((F.min(F.when(F.col("rk") == lo, F.col("w"))).cast("double")
          + F.min(F.when(F.col("rk") == hi, F.col("w"))).cast("double"))
         / F.lit(4.0)).alias("hl_shift_cents"))


# ---------------------------------------------------------------------------
# Cliff's delta (ordinal effect size)
# ---------------------------------------------------------------------------

_CLIFFS_ORACLE = """
WITH c AS (
  SELECT event_type = 'click' AS is_x,
         CAST(round(value * 100, 0) AS BIGINT) AS v
  FROM events WHERE event_type IN ('click', 'purchase')
), dom AS (
  SELECT v,
         CAST(COUNT(*) FILTER (WHERE is_x) AS BIGINT) AS cx,
         CAST(COUNT(*) FILTER (WHERE NOT is_x) AS BIGINT) AS cy
  FROM c GROUP BY v
), cum AS (
  SELECT v, cx, cy,
         CAST(COALESCE(SUM(cy) OVER (ORDER BY v
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING), 0)
              AS BIGINT) AS y_below,
         CAST(SUM(cy) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS y_le
  FROM dom
), s AS (
  SELECT
    CAST(SUM(cx) AS BIGINT) AS nx,
    CAST(SUM(cy) AS BIGINT) AS ny,
    CAST(SUM(CAST(cx AS HUGEINT) * y_below) AS HUGEINT) AS n_gt,
    CAST(SUM(CAST(cx AS HUGEINT)
             * ((SELECT SUM(cy) FROM dom) - y_le)) AS HUGEINT) AS n_lt
  FROM cum
)
SELECT nx AS n_click, ny AS n_purchase,
       CAST(n_gt AS BIGINT) AS n_greater, CAST(n_lt AS BIGINT) AS n_less,
       (CAST(n_gt AS DOUBLE) - CAST(n_lt AS DOUBLE))
         / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)) AS cliffs_delta
FROM s
"""


@register("stat_cliffs_delta", oracle=_CLIFFS_ORACLE)
def stat_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between click and purchase values — the ordinal
    effect size that accompanies stat_mann_whitney_u exactly as
    stat_cohens_d accompanies the t-test: δ = (#(x>y) − #(x<y))/(n·m),
    reading dominance direction free of any distribution assumption.
    Pure domain collapse: per-value side counts, strictly-below /
    less-or-equal cumulative counts over the value DOMAIN, and the pair
    counts assemble as exact integer products (decimal(38,0) — n·m
    passes int64 at fleet scale) with ONE final division.

    Scale shape: one combinable domain collapse (bounded cents domain);
    one cumulative window over the domain (bounded by construction);
    one integer fold to a single row."""
    ev = click_purchase_events(spark, sf_dir)
    v = round_cents("value")
    dom = (ev.select((F.col("event_type") == "click").alias("is_x"),
                     v.alias("v"))
           .groupBy("v")
           .agg(F.count(F.when(F.col("is_x"), 1)).cast("bigint")
                .alias("cx"),
                F.count(F.when(~F.col("is_x"), 1)).cast("bigint")
                .alias("cy")))
    wb = (Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1))
    wle = (Window.orderBy("v")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot_y = dom.agg(F.sum("cy").cast("bigint").alias("ny_all"))
    cum = (dom.select(
        "cx", "cy",
        F.coalesce(F.sum("cy").over(wb), F.lit(0)).cast("bigint")
        .alias("y_below"),
        F.sum("cy").over(wle).cast("bigint").alias("y_le"))
        .crossJoin(F.broadcast(tot_y)))
    s = cum.agg(
        F.sum("cx").cast("bigint").alias("nx"),
        F.sum("cy").cast("bigint").alias("ny"),
        F.sum(F.col("cx").cast("decimal(38,0)") * F.col("y_below"))
        .alias("n_gt"),
        F.sum(F.col("cx").cast("decimal(38,0)")
              * (F.col("ny_all") - F.col("y_le"))).alias("n_lt"))
    return s.select(
        F.col("nx").alias("n_click"), F.col("ny").alias("n_purchase"),
        F.col("n_gt").cast("bigint").alias("n_greater"),
        F.col("n_lt").cast("bigint").alias("n_less"),
        ((F.col("n_gt").cast("double") - F.col("n_lt").cast("double"))
         / (F.col("nx").cast("double") * F.col("ny").cast("double")))
        .alias("cliffs_delta"))


# ---------------------------------------------------------------------------
# Dunn's post-hoc pairwise test with Benjamini–Hochberg step-up
# ---------------------------------------------------------------------------

# Frozen two-sided normal quantiles for the BH step-up at alpha = 0.05
# over m = 10 pairs: thresholds z_k = Phi^-1(1 - 0.05*k/10/2) for
# k = 1..10, computed once (statistics.NormalDist().inv_cdf) and pasted —
# the transcendental-constants-as-literals discipline. BH rejects the
# top-k |z| ranks where rank k's |z| still clears z_k (step-up from the
# largest k).
_DUNN_Z = (2.807033768, 2.575829304, 2.432379059, 2.326347874,
           2.241402728, 2.170090378, 2.108358399, 2.053748911,
           2.004654462, 1.959963985)


def _dunn_thresh_sql(rank: str) -> str:
    branches = " ".join(f"WHEN {rank} = {k} THEN {z}"
                        for k, z in enumerate(_DUNN_Z, 1))
    return f"CASE {branches} END"


_DUNN_ORACLE = f"""
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v
  FROM events
), dom AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM c GROUP BY v
), cum AS (
  SELECT v, t,
         CAST(COALESCE(SUM(t) OVER (ORDER BY v
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM dom
), tv AS (
  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS tv
  FROM c GROUP BY event_type, v
), per_type AS (
  -- doubled average rank of value v is 2*below + t + 1 (exact integer)
  SELECT tv.event_type,
         CAST(SUM(tv.tv) AS BIGINT) AS n_i,
         CAST(SUM(CAST(tv.tv AS HUGEINT) * (2 * cum.below + cum.t + 1))
              AS HUGEINT) AS sr2
  FROM tv JOIN cum ON tv.v = cum.v
  GROUP BY tv.event_type
), g AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS nn,
         CAST((SELECT SUM(CAST(t AS HUGEINT) * t * t - t) FROM dom)
              AS HUGEINT) AS tie3
  FROM per_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n_i AS n_a, b.n_i AS n_b,
         (CAST(a.sr2 AS DOUBLE) / (2.0 * CAST(a.n_i AS DOUBLE))
          - CAST(b.sr2 AS DOUBLE) / (2.0 * CAST(b.n_i AS DOUBLE)))
         / sqrt((CAST(g.nn AS DOUBLE) * (CAST(g.nn AS DOUBLE) + 1.0) / 12.0
                 - CAST(g.tie3 AS DOUBLE)
                   / (12.0 * (CAST(g.nn AS DOUBLE) - 1.0)))
                * (1.0 / CAST(a.n_i AS DOUBLE)
                   + 1.0 / CAST(b.n_i AS DOUBLE))) AS z
  FROM per_type a JOIN per_type b ON a.event_type < b.event_type
  CROSS JOIN g
), ranked AS (
  SELECT type_a, type_b, n_a, n_b, z,
         CAST(row_number() OVER (ORDER BY abs(z) DESC, type_a, type_b)
              AS BIGINT) AS abs_rank
  FROM pairs
), kstar AS (
  SELECT MAX(CASE WHEN abs(z) >= {_dunn_thresh_sql("abs_rank")}
                  THEN abs_rank END) AS k
  FROM ranked
)
SELECT type_a, type_b, n_a, n_b, z AS z_stat, abs_rank,
       COALESCE(abs_rank <= kstar.k, false) AS reject_bh
FROM ranked CROSS JOIN kstar
"""


@register("stat_dunn_posthoc_bh", oracle=_DUNN_ORACLE)
def stat_dunn_posthoc_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc test: WHICH event-type pairs differ, after
    stat_kruskal_wallis says SOME do — pairwise z on shared
    Kruskal–Wallis mean ranks with the tie-corrected variance, and a
    Benjamini–Hochberg step-up over the 10 pairs so the multiple-
    comparison control is part of the operator, not an exercise for the
    reader. p-value ordering is |z| ordering (monotone), so BH runs on
    frozen normal-quantile thresholds per rank (z_k literals, the
    Poisson-CDF-thresholds discipline) — no CDF at query time.

    Scale shape: one domain collapse + one (type, value) collapse; the
    cumulative window runs over the value DOMAIN (bounded); pairwise
    z and the BH pass live on 5-type/10-pair tables."""
    ev = load_table(spark, "events", sf_dir)
    v = round_cents("value")
    c = ev.select("event_type", v.alias("v"))
    dom = c.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = dom.select(
        "v", "t",
        F.coalesce(F.sum("t").over(wb), F.lit(0)).cast("bigint")
        .alias("below"))
    tv = (c.groupBy("event_type", "v")
          .agg(F.count(F.lit(1)).cast("bigint").alias("tv")))
    per_type = (tv.join(cum, "v")
                .groupBy("event_type")
                .agg(F.sum("tv").cast("bigint").alias("n_i"),
                     F.sum(F.col("tv").cast("decimal(38,0)")
                           * (2 * F.col("below") + F.col("t") + 1))
                     .alias("sr2")))
    tie3 = dom.agg(
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
              - F.col("t")).alias("tie3"))
    g = (per_type.agg(F.sum("n_i").cast("bigint").alias("nn"))
         .crossJoin(F.broadcast(tie3)))
    a, b = per_type.alias("a"), per_type.alias("b")
    nnd = F.col("nn").cast("double")
    var = (nnd * (nnd + F.lit(1.0)) / F.lit(12.0)
           - F.col("tie3").cast("double")
           / (F.lit(12.0) * (nnd - F.lit(1.0))))
    mean_a = (F.col("a.sr2").cast("double")
              / (F.lit(2.0) * F.col("a.n_i").cast("double")))
    mean_b = (F.col("b.sr2").cast("double")
              / (F.lit(2.0) * F.col("b.n_i").cast("double")))
    z = ((mean_a - mean_b)
         / F.sqrt(var * (F.lit(1.0) / F.col("a.n_i").cast("double")
                         + F.lit(1.0) / F.col("b.n_i").cast("double"))))
    pairs = (a.join(b, F.col("a.event_type") < F.col("b.event_type"))
             .crossJoin(F.broadcast(g))
             .select(F.col("a.event_type").alias("type_a"),
                     F.col("b.event_type").alias("type_b"),
                     F.col("a.n_i").alias("n_a"),
                     F.col("b.n_i").alias("n_b"),
                     z.alias("z")))
    wr = Window.orderBy(F.abs("z").desc(), "type_a", "type_b")
    ranked = pairs.select("*", F.row_number().over(wr).cast("bigint")
                          .alias("abs_rank"))
    thr = F.element_at(F.array(*[F.lit(x) for x in _DUNN_Z]),
                       F.col("abs_rank").cast("int"))
    kstar = ranked.agg(F.max(F.when(F.abs("z") >= thr,
                                    F.col("abs_rank"))).alias("k"))
    return (ranked.crossJoin(F.broadcast(kstar))
            .select("type_a", "type_b", "n_a", "n_b",
                    F.col("z").alias("z_stat"), "abs_rank",
                    F.coalesce(F.col("abs_rank") <= F.col("k"),
                               F.lit(False)).alias("reject_bh")))


# ---------------------------------------------------------------------------
# Cochran's Q (k related binary samples)
# ---------------------------------------------------------------------------

_COCHRAN_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), tm AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k_t,
         CAST(SUM(cents) AS BIGINT) AS s_t
  FROM hourly GROUP BY event_type
), complete_blocks AS (
  SELECT hr FROM hourly GROUP BY hr HAVING COUNT(*) = 5
), flags AS (
  -- integer-safe above-own-mean flag (the McNemar convention)
  SELECT h.hr, h.event_type,
         CASE WHEN h.cents * tm.k_t > tm.s_t THEN 1 ELSE 0 END AS x
  FROM hourly h
  JOIN complete_blocks b ON h.hr = b.hr
  JOIN tm ON h.event_type = tm.event_type
), cols AS (
  SELECT event_type, CAST(SUM(x) AS BIGINT) AS c_j FROM flags
  GROUP BY event_type
), rows_ AS (
  SELECT hr, CAST(SUM(x) AS BIGINT) AS r_i FROM flags GROUP BY hr
), s AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cols) AS k,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_) AS n_blocks,
         (SELECT CAST(SUM(c_j) AS BIGINT) FROM cols) AS n,
         (SELECT CAST(SUM(c_j * c_j) AS BIGINT) FROM cols) AS sum_c2,
         (SELECT CAST(SUM(r_i * r_i) AS BIGINT) FROM rows_) AS sum_r2
)
SELECT n_blocks, k, n AS n_successes,
       -- Q = (k-1) * (k*sum C_j^2 - N^2) / (k*N - sum R_i^2): every
       -- term exact BIGINT, ONE final division
       (CAST(k AS DOUBLE) - 1.0)
         * (CAST(k * sum_c2 AS DOUBLE) - CAST(n * n AS DOUBLE))
         / (CAST(k * n AS DOUBLE) - CAST(sum_r2 AS DOUBLE)) AS cochran_q
FROM s
"""


@register("stat_cochran_q", oracle=_COCHRAN_ORACLE)
def stat_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across the five event types on hour blocks: do the
    types differ in their above-own-mean RATE when each hour is its own
    block? — the k-treatment generalization of stat_mcnemar_paired
    exactly as stat_friedman_test generalizes the paired rank tests,
    closing the related-samples ladder (sign → Wilcoxon → Friedman for
    magnitudes; McNemar → Cochran Q for binaries). Flags are the same
    integer-safe cents·k > Σ comparisons; complete blocks only; Q
    assembles from four exact integer sums with ONE division.

    Scale shape: calendar-bounded hourly fold; flags map-side against a
    broadcast 5-row moment dim; column/row folds over the bounded block
    grid."""
    hourly = (hourly_cents(load_table(spark, "events", sf_dir))
              .localCheckpoint(eager=False))  # moments + blocks share it
    tm = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_t"),
        F.sum("cents").cast("bigint").alias("s_t"))
    complete = (hourly.groupBy("hr")
                .agg(F.count(F.lit(1)).alias("nb"))
                .where(F.col("nb") == 5).select("hr"))
    flags = (hourly.join(complete, "hr")
             .join(F.broadcast(tm), "event_type")
             .select("hr", "event_type",
                     F.when(F.col("cents") * F.col("k_t") > F.col("s_t"),
                            F.lit(1)).otherwise(F.lit(0)).alias("x")))
    cols = flags.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("c_j"))
    rows_ = flags.groupBy("hr").agg(
        F.sum("x").cast("bigint").alias("r_i"))
    cstats = cols.agg(F.count(F.lit(1)).cast("bigint").alias("k"),
                      F.sum("c_j").cast("bigint").alias("n"),
                      F.sum(F.col("c_j") * F.col("c_j")).cast("bigint")
                      .alias("sum_c2"))
    rstats = rows_.agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
                       F.sum(F.col("r_i") * F.col("r_i")).cast("bigint")
                       .alias("sum_r2"))
    s = cstats.crossJoin(F.broadcast(rstats))
    kd = F.col("k").cast("double")
    q = ((kd - F.lit(1.0))
         * ((F.col("k") * F.col("sum_c2")).cast("double")
            - (F.col("n") * F.col("n")).cast("double"))
         / ((F.col("k") * F.col("n")).cast("double")
            - F.col("sum_r2").cast("double")))
    return s.select("n_blocks", "k",
                    F.col("n").alias("n_successes"),
                    q.alias("cochran_q"))


# ---------------------------------------------------------------------------
# DeLong confidence interval for the exact ROC-AUC
# ---------------------------------------------------------------------------

_DELONG_Z = 1.959963985

_DELONG_ORACLE = f"""
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), dom AS (
  SELECT xc, CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS p,
         CAST(COUNT(*) FILTER (WHERE NOT pos) AS BIGINT) AS q
  FROM c GROUP BY xc
), cum AS (
  SELECT xc, p, q,
         CAST(COALESCE(SUM(q) OVER wb, 0) AS BIGINT) AS q_below,
         CAST(COALESCE(SUM(p) OVER wb, 0) AS BIGINT) AS p_below
  FROM dom
  WINDOW wb AS (ORDER BY xc ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
), tot AS (
  SELECT CAST(SUM(p) AS BIGINT) AS np, CAST(SUM(q) AS BIGINT) AS nq
  FROM dom
), s AS (
  -- doubled placement values stay integer: for a positive at value v,
  -- 2*placement*nq = 2*q_below + q (ties count half); for a negative,
  -- 2*placement'*np = 2*(np - p_below - p) + p
  SELECT
    CAST(SUM(CAST(p AS HUGEINT) * (2 * q_below + q)) AS HUGEINT) AS sp1,
    CAST(SUM(CAST(p AS HUGEINT) * (2 * q_below + q)
             * (2 * q_below + q)) AS HUGEINT) AS sp2,
    CAST(SUM(CAST(q AS HUGEINT)
             * (2 * (tot.np - p_below - p) + p)) AS HUGEINT) AS sq1,
    CAST(SUM(CAST(q AS HUGEINT)
             * (2 * (tot.np - p_below - p) + p)
             * (2 * (tot.np - p_below - p) + p)) AS HUGEINT) AS sq2
  FROM cum CROSS JOIN tot
), a AS (
  SELECT tot.np, tot.nq,
         CAST(s.sp1 AS DOUBLE)
           / (2.0 * CAST(tot.np AS DOUBLE) * CAST(tot.nq AS DOUBLE))
           AS auc,
         -- S10 = (E[m^2] - E[m]^2) * np/(np-1) with m = doubled
         -- placement / (2 nq); spelled once per component
         (CAST(s.sp2 AS DOUBLE) / CAST(tot.np AS DOUBLE)
          - (CAST(s.sp1 AS DOUBLE) / CAST(tot.np AS DOUBLE))
            * (CAST(s.sp1 AS DOUBLE) / CAST(tot.np AS DOUBLE)))
         / (4.0 * CAST(tot.nq AS DOUBLE) * CAST(tot.nq AS DOUBLE))
         * (CAST(tot.np AS DOUBLE) / (CAST(tot.np AS DOUBLE) - 1.0))
           AS s10,
         (CAST(s.sq2 AS DOUBLE) / CAST(tot.nq AS DOUBLE)
          - (CAST(s.sq1 AS DOUBLE) / CAST(tot.nq AS DOUBLE))
            * (CAST(s.sq1 AS DOUBLE) / CAST(tot.nq AS DOUBLE)))
         / (4.0 * CAST(tot.np AS DOUBLE) * CAST(tot.np AS DOUBLE))
         * (CAST(tot.nq AS DOUBLE) / (CAST(tot.nq AS DOUBLE) - 1.0))
           AS s01
  FROM s CROSS JOIN tot
)
SELECT np AS n_pos, nq AS n_neg, auc,
       sqrt(s10 / CAST(np AS DOUBLE) + s01 / CAST(nq AS DOUBLE)) AS se,
       auc - {_DELONG_Z} * sqrt(s10 / CAST(np AS DOUBLE)
                                + s01 / CAST(nq AS DOUBLE)) AS ci_lo,
       auc + {_DELONG_Z} * sqrt(s10 / CAST(np AS DOUBLE)
                                + s01 / CAST(nq AS DOUBLE)) AS ci_hi
FROM a
"""


@register("ml_roc_auc_delong_ci", oracle=_DELONG_ORACLE)
def ml_roc_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong 95% confidence interval for the exact ROC-AUC — the
    interval ml_roc_auc_exact's point estimate never carries (the
    stat_fisher_z_corr_ci move applied to AUC): variance from the
    placement-value components S10 (over positives) and S01 (over
    negatives), var = S10/n₊ + S01/n₋, frozen normal quantile. DOUBLED
    placement values (2·q_below + q, ties half) keep every first and
    second moment an exact wide integer off the domain collapse; the
    only roots are sqrt.

    Scale shape: one combinable domain collapse; one cumulative window
    over the bounded value DOMAIN; one four-sum wide-integer fold to a
    single row — identical shape to ml_roc_auc_exact plus two moments."""
    dom = (_purchase_scores(spark, sf_dir)
           .groupBy("xc")
           .agg(F.count(F.when(F.col("pos"), 1)).cast("bigint").alias("p"),
                F.count(F.when(~F.col("pos"), 1)).cast("bigint")
                .alias("q")))
    wb = Window.orderBy("xc").rowsBetween(Window.unboundedPreceding, -1)
    cum = dom.select(
        "p", "q",
        F.coalesce(F.sum("q").over(wb), F.lit(0)).cast("bigint")
        .alias("q_below"),
        F.coalesce(F.sum("p").over(wb), F.lit(0)).cast("bigint")
        .alias("p_below"))
    tot = dom.agg(F.sum("p").cast("bigint").alias("np"),
                  F.sum("q").cast("bigint").alias("nq"))
    dd = "decimal(38,0)"
    mpos = (2 * F.col("q_below") + F.col("q"))
    mneg = (2 * (F.col("np") - F.col("p_below") - F.col("p")) + F.col("p"))
    s = (cum.crossJoin(F.broadcast(tot))
         .agg(F.sum(F.col("p").cast(dd) * mpos).alias("sp1"),
              F.sum(F.col("p").cast(dd) * mpos * mpos).alias("sp2"),
              F.sum(F.col("q").cast(dd) * mneg).alias("sq1"),
              F.sum(F.col("q").cast(dd) * mneg * mneg).alias("sq2"))
         .crossJoin(F.broadcast(tot)))
    npd = F.col("np").cast("double")
    nqd = F.col("nq").cast("double")
    auc = F.col("sp1").cast("double") / (F.lit(2.0) * npd * nqd)
    s10 = ((F.col("sp2").cast("double") / npd
            - (F.col("sp1").cast("double") / npd)
            * (F.col("sp1").cast("double") / npd))
           / (F.lit(4.0) * nqd * nqd) * (npd / (npd - F.lit(1.0))))
    s01 = ((F.col("sq2").cast("double") / nqd
            - (F.col("sq1").cast("double") / nqd)
            * (F.col("sq1").cast("double") / nqd))
           / (F.lit(4.0) * npd * npd) * (nqd / (nqd - F.lit(1.0))))
    se = F.sqrt(s10 / npd + s01 / nqd)
    return s.select(F.col("np").alias("n_pos"), F.col("nq").alias("n_neg"),
                    auc.alias("auc"), se.alias("se"),
                    (auc - F.lit(_DELONG_Z) * se).alias("ci_lo"),
                    (auc + F.lit(_DELONG_Z) * se).alias("ci_hi"))


# ---------------------------------------------------------------------------
# KS uniformity audit of the house md5 sampler
# ---------------------------------------------------------------------------

# asymptotic two-sided Kolmogorov critical value at alpha = 0.05
_KS_CRIT_05 = 1.358102
_KS_SCALE = 1 << 60  # md5 15-hex-digit keys are uniform on [0, 2^60)


_KS_MD5_ORACLE = f"""
WITH keyed AS (
  SELECT event_id,
         CAST(concat('0x', substring(md5(CAST(event_id AS VARCHAR)
                                         || ':ks-audit'), 1, 15))
              AS BIGINT) AS u
  FROM events
), ranked AS (
  SELECT u, CAST(row_number() OVER (ORDER BY u, event_id) AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM keyed
), gaps AS (
  -- both one-sided gaps, kept as EXACT integer numerators over the
  -- common denominator n * 2^60 (HUGEINT: i * 2^60 passes int64)
  SELECT n,
         GREATEST(CAST(i AS HUGEINT) * {_KS_SCALE}
                    - CAST(u AS HUGEINT) * n,
                  CAST(u AS HUGEINT) * n
                    - (CAST(i AS HUGEINT) - 1) * {_KS_SCALE}) AS num
  FROM ranked
)
SELECT MAX(n) AS n,
       CAST(MAX(num) AS DOUBLE)
         / (CAST(MAX(n) AS DOUBLE) * {_KS_SCALE}.0) AS d_stat,
       sqrt(CAST(MAX(n) AS DOUBLE)) * CAST(MAX(num) AS DOUBLE)
         / (CAST(MAX(n) AS DOUBLE) * {_KS_SCALE}.0) AS sqrt_n_d,
       sqrt(CAST(MAX(n) AS DOUBLE)) * CAST(MAX(num) AS DOUBLE)
         / (CAST(MAX(n) AS DOUBLE) * {_KS_SCALE}.0) >= {_KS_CRIT_05}
         AS reject_uniform_5pct
FROM gaps
"""


@register("stat_ks_uniform_md5_audit", oracle=_KS_MD5_ORACLE)
def stat_ks_uniform_md5_audit(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov uniformity audit of the house md5 randomness
    itself: the 60-bit keys every deterministic sampler / bootstrap /
    permutation op draws from, tested against U(0, 2⁶⁰) — the engine
    auditing its own randomness supply (a biased key stream would
    silently corrupt every seeded operator upstream). Both one-sided
    ECDF gaps stay EXACT integer numerators over the common n·2⁶⁰
    denominator (decimal(38,0) cross-multiplication — no float ECDF
    anywhere); D converts to double once; √n·D compares against the
    frozen asymptotic 5% critical value.

    Scale shape: the global rank over the key stream is the two-pass
    bucketed rank (bucketed.py — no single-partition window over the
    event table); one wide-integer max fold to a single row."""
    ev = load_table(spark, "events", sf_dir)
    u = F.conv(F.substring(
        F.md5(F.concat(F.col("event_id").cast("string"),
                       F.lit(":ks-audit"))), 1, 15), 16, 10).cast("bigint")
    keyed = ev.select("event_id", u.alias("u"))
    tot = keyed.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (bucketed_order(keyed, "u", ["event_id"], rank_col="i")
              .crossJoin(F.broadcast(tot)))
    dd = "decimal(38,0)"
    num = F.greatest(
        F.col("i").cast(dd) * _KS_SCALE - F.col("u").cast(dd) * F.col("n"),
        F.col("u").cast(dd) * F.col("n")
        - (F.col("i").cast(dd) - 1) * _KS_SCALE)
    g = ranked.agg(F.max("n").alias("n"), F.max(num).alias("num"))
    d_stat = (F.col("num").cast("double")
              / (F.col("n").cast("double") * F.lit(float(_KS_SCALE))))
    snd = F.sqrt(F.col("n").cast("double")) * d_stat
    return g.select("n", d_stat.alias("d_stat"), snd.alias("sqrt_n_d"),
                    (snd >= F.lit(_KS_CRIT_05))
                    .alias("reject_uniform_5pct"))


# ---------------------------------------------------------------------------
# Poisson dispersion (variance-to-mean) test on hourly arrival counts
# ---------------------------------------------------------------------------

_DISPERSION_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM hourly GROUP BY event_type
)
SELECT event_type, n AS n_hours,
       CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_count,
       -- sample variance via the exact-sum identity, one tree
       (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                             / CAST(n AS DOUBLE))
         / (CAST(n AS DOUBLE) - 1.0)
         / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS dispersion_index,
       (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                             / CAST(n AS DOUBLE))
         / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS chi2_stat
FROM s
"""


@register("stat_poisson_dispersion", oracle=_DISPERSION_ORACLE)
def stat_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion test on hourly arrival counts per event type:
    the variance-to-mean index and its χ² form (n−1)·s²/x̄ — IS traffic
    Poisson, or bursty? The formal companion to ts_burstiness_fano
    (same index, different grain), and the gate before any
    Poisson-assuming capacity model. Counts and both power sums are
    exact integers; the index assembles in one identical tree with two
    divisions.

    Scale shape: calendar-bounded hourly count fold; one combinable
    three-sum fold per type."""
    s = power_sums(hourly_counts(load_table(spark, "events", sf_dir)),
                   ["event_type"], "c")
    nd = F.col("n").cast("double")
    ss = centered_ss()
    mean, _ = mean_var_pop()
    return s.select("event_type", F.col("n").alias("n_hours"),
                    mean.alias("mean_count"),
                    (ss / (nd - F.lit(1.0)) / mean)
                    .alias("dispersion_index"),
                    (ss / mean).alias("chi2_stat"))


# ---------------------------------------------------------------------------
# TOST equivalence test (two one-sided tests)
# ---------------------------------------------------------------------------

_TOST_MARGIN = 500       # cents: the practical-equivalence margin
_TOST_Z05 = 1.644853627  # one-sided 5% normal quantile, frozen

_TOST_ORACLE = f"""
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS x
  FROM events WHERE event_type IN ('click', 'purchase')
), s AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n1,
    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n2,
    CAST(SUM(x) FILTER (WHERE event_type = 'click') AS BIGINT) AS s1,
    CAST(SUM(x) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS s2,
    CAST(SUM(CAST(x AS HUGEINT) * x)
         FILTER (WHERE event_type = 'click') AS HUGEINT) AS q1,
    CAST(SUM(CAST(x AS HUGEINT) * x)
         FILTER (WHERE event_type = 'purchase') AS HUGEINT) AS q2
  FROM c
), m AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS d,
         sqrt((CAST(q1 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / CAST(n1 AS DOUBLE))
              / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE)
              + (CAST(q2 AS DOUBLE)
                 - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                   / CAST(n2 AS DOUBLE))
                / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE)) AS se
  FROM s
)
SELECT n1 AS n_click, n2 AS n_purchase, d AS mean_diff_cents, se,
       (d + {_TOST_MARGIN}.0) / se AS t_lower,
       (d - {_TOST_MARGIN}.0) / se AS t_upper,
       ((d + {_TOST_MARGIN}.0) / se >= {_TOST_Z05}
        AND (d - {_TOST_MARGIN}.0) / se <= -{_TOST_Z05})
         AS equivalent_within_margin
FROM m
"""


@register("stat_tost_equivalence", oracle=_TOST_ORACLE)
def stat_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests) on the click vs
    purchase mean cents with a ±500-cent practical margin — the inverse
    question every "no significant difference" misreads: can we
    POSITIVELY claim the means are within the margin?
    (stat_welch_ttest asks 'different?'; this asks 'same enough?' —
    both belong in an A/B platform). Welch standard error off exact
    integer moments; both one-sided z statistics against the frozen
    one-sided 5% quantile; equivalence = both reject.

    Scale shape: ONE combinable six-sum fold over the scan to a single
    row (the Welch shape)."""
    ev = click_purchase_events(spark, sf_dir)
    x = round_cents("value")
    is1 = F.col("event_type") == "click"
    c = ev.select(is1.alias("is1"), x.alias("x"),
                  x.cast("decimal(38,0)").alias("xd"))
    s = c.agg(
        F.count(F.when(F.col("is1"), 1)).cast("bigint").alias("n1"),
        F.count(F.when(~F.col("is1"), 1)).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("is1"), F.col("x"))).cast("bigint").alias("s1"),
        F.sum(F.when(~F.col("is1"), F.col("x"))).cast("bigint")
        .alias("s2"),
        F.sum(F.when(F.col("is1"), F.col("xd") * F.col("x"))).alias("q1"),
        F.sum(F.when(~F.col("is1"), F.col("xd") * F.col("x")))
        .alias("q2"))
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    d = (F.col("s1").cast("double") / n1d
         - F.col("s2").cast("double") / n2d)
    v1 = ((F.col("q1").cast("double")
           - F.col("s1").cast("double") * F.col("s1").cast("double") / n1d)
          / (n1d - F.lit(1.0)) / n1d)
    v2 = ((F.col("q2").cast("double")
           - F.col("s2").cast("double") * F.col("s2").cast("double") / n2d)
          / (n2d - F.lit(1.0)) / n2d)
    se = F.sqrt(v1 + v2)
    tl = (d + F.lit(float(_TOST_MARGIN))) / se
    tu = (d - F.lit(float(_TOST_MARGIN))) / se
    return s.select(
        F.col("n1").alias("n_click"), F.col("n2").alias("n_purchase"),
        d.alias("mean_diff_cents"), se.alias("se"),
        tl.alias("t_lower"), tu.alias("t_upper"),
        ((tl >= F.lit(_TOST_Z05)) & (tu <= F.lit(-_TOST_Z05)))
        .alias("equivalent_within_margin"))


# ---------------------------------------------------------------------------
# SPRT sequential conversion test, daily grain
# ---------------------------------------------------------------------------

# H0: conversion = 0.18, H1: 0.22; alpha = beta = 0.05. All four
# transcendentals frozen (log-likelihood ratios per success/failure and
# the two Wald boundaries ±ln((1-beta)/alpha) = ±ln 19).
_SPRT_LR1 = 0.20067069546215124     # ln(0.22/0.18)
_SPRT_LR0 = -0.050010420574661305   # ln(0.78/0.82)
_SPRT_A = 2.9444389791664403        # accept H1 boundary
_SPRT_B = -2.9444389791664403       # accept H0 boundary

_SPRT_ORACLE = f"""
WITH daily AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS k
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY strftime(CAST(ts AS DATE), '%Y-%m-%d')
), llr AS (
  SELECT day, n, k,
         CAST(k AS DOUBLE) * {_SPRT_LR1!r}
           + CAST(n - k AS DOUBLE) * {_SPRT_LR0!r} AS llr_day
  FROM daily
), cum AS (
  SELECT day, n, k, llr_day,
         SUM(llr_day) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           AS cum_llr
  FROM llr
)
SELECT day, n, k, cum_llr,
       CASE WHEN cum_llr >= {_SPRT_A!r} THEN 'accept_h1'
            WHEN cum_llr <= {_SPRT_B!r} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum
"""


@register("stat_sprt_daily", oracle=_SPRT_ORACLE)
def stat_sprt_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT on the daily conversion rate (purchase share of
    click+purchase), H0 p=0.18 vs H1 p=0.22 at α=β=0.05 — the
    SEQUENTIAL test that lets an experiment stop the day the evidence
    crosses a Wald boundary instead of waiting out a fixed horizon (the
    streaming-native member of the testing family; its per-day input is
    sprt_daily_counts, the state stream_sprt_monitor keeps). All four
    transcendentals are FROZEN literals; daily LLR increments are
    integer-count × frozen-literal products; the cumulative sum runs over
    the ordered calendar (deterministic sequential fold in both engines).

    Scale shape: one combinable daily two-count fold; the cumulative
    window runs over the calendar-bounded day series."""
    daily = sprt_daily_counts(load_table(spark, "events", sf_dir))
    llr = (F.col("k").cast("double") * F.lit(_SPRT_LR1)
           + (F.col("n") - F.col("k")).cast("double") * F.lit(_SPRT_LR0))
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    cum = daily.select("day", "n", "k", llr.alias("llr_day")) \
        .select("day", "n", "k",
                F.sum("llr_day").over(wc).alias("cum_llr"))
    decision = (F.when(F.col("cum_llr") >= F.lit(_SPRT_A), "accept_h1")
                .when(F.col("cum_llr") <= F.lit(_SPRT_B), "accept_h0")
                .otherwise("continue"))
    return cum.select("day", "n", "k", "cum_llr",
                      decision.alias("decision"))


# ---------------------------------------------------------------------------
# optimal-F1 threshold pick
# ---------------------------------------------------------------------------

_F1_ORACLE = """
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), dom AS (
  SELECT xc, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS p
  FROM c GROUP BY xc
), cum AS (
  SELECT xc,
         CAST(SUM(t) OVER w AS BIGINT) AS cum_t,
         CAST(SUM(p) OVER w AS BIGINT) AS cum_p,
         CAST(SUM(p) OVER () AS BIGINT) AS np
  FROM dom WINDOW w AS (ORDER BY xc DESC ROWS UNBOUNDED PRECEDING)
), scored AS (
  SELECT xc AS threshold_cents,
         cum_p AS tp, cum_t - cum_p AS fp, np - cum_p AS fn,
         2.0 * CAST(cum_p AS DOUBLE)
           / (2.0 * CAST(cum_p AS DOUBLE)
              + CAST(cum_t - cum_p AS DOUBLE)
              + CAST(np - cum_p AS DOUBLE)) AS f1
  FROM cum
)
SELECT threshold_cents, tp, fp, fn,
       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision_at,
       CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall_at,
       f1
FROM scored
ORDER BY f1 DESC, threshold_cents DESC
LIMIT 1
"""


@register("ml_optimal_f1_threshold", oracle=_F1_ORACLE)
def ml_optimal_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The F1-optimal decision threshold for the value-predicts-purchase
    score — the operating point ml_confusion_threshold_sweep's ×9 grid
    brackets and ml_lift_gains_table's deciles smooth over, picked
    EXACTLY over every distinct score value: per-threshold TP/FP/FN off
    the domain cumulative counts, F1 through an identical double tree,
    argmax by (f1, threshold) via a sort-limit that fuses to
    TakeOrdered. Ties (identical doubles in both engines) break to the
    HIGHER threshold — the conservative operating point.

    Scale shape: one combinable domain collapse; one cumulative window
    over the bounded DOMAIN; a 1-row TakeOrdered head."""
    dom = _purchase_domain(spark, sf_dir)
    wd = (Window.orderBy(F.col("xc").desc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    np_ = dom.agg(F.sum("p").cast("bigint").alias("np"))
    cum = (dom.select(
        "xc",
        F.sum("t").over(wd).cast("bigint").alias("cum_t"),
        F.sum("p").over(wd).cast("bigint").alias("cum_p"))
        .crossJoin(F.broadcast(np_)))
    tp = F.col("cum_p")
    fp = F.col("cum_t") - F.col("cum_p")
    fn = F.col("np") - F.col("cum_p")
    f1 = (F.lit(2.0) * tp.cast("double")
          / (F.lit(2.0) * tp.cast("double") + fp.cast("double")
             + fn.cast("double")))
    return (cum.select(F.col("xc").alias("threshold_cents"),
                       tp.alias("tp"), fp.alias("fp"), fn.alias("fn"),
                       (tp.cast("double") / (tp + fp).cast("double"))
                       .alias("precision_at"),
                       (tp.cast("double") / (tp + fn).cast("double"))
                       .alias("recall_at"),
                       f1.alias("f1"))
            .orderBy(F.col("f1").desc(),
                     F.col("threshold_cents").desc())
            .limit(1))

# ---------------------------------------------------------------------------
# Cochran–Armitage trend test
# ---------------------------------------------------------------------------

_CA_TREND_ORACLE = """
WITH c AS (
  SELECT CAST(floor(hour(ts) / 6.0) AS BIGINT) AS dose,
         event_type = 'purchase' AS pos
  FROM events WHERE event_type IN ('click', 'purchase')
), g AS (
  SELECT dose, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS r
  FROM c GROUP BY dose
), s AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(r) AS BIGINT) AS rt,
         CAST(SUM(dose * n) AS BIGINT) AS sn,
         CAST(SUM(dose * r) AS BIGINT) AS sr,
         CAST(SUM(dose * dose * n) AS BIGINT) AS sn2
  FROM g
)
SELECT nt AS n_total, rt AS n_success,
       round(CAST(sr AS DOUBLE)
             - (CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
               * CAST(sn AS DOUBLE), 6) AS t_stat,
       round((CAST(sr AS DOUBLE)
              - (CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                * CAST(sn AS DOUBLE))
             / sqrt((CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (1.0 - CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (CAST(sn2 AS DOUBLE)
                       - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
                         / CAST(nt AS DOUBLE))), 6) AS z_trend
FROM s
"""


@register("stat_cochran_armitage_trend", oracle=_CA_TREND_ORACLE)
def stat_cochran_armitage_trend(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Cochran–Armitage test for TREND in proportions across ordered
    groups: is the purchase rate monotonically drifting across the four
    six-hour day blocks (dose scores 0–3)? The missing rung between
    stat_two_proportion_z (two groups) and stat_chi_square_independence
    (unordered k groups): the trend test spends its single degree of
    freedom on the ORDERING, so it sees monotone effects the omnibus
    chi-square dilutes. T = Σsᵢrᵢ − p̄·Σsᵢnᵢ,
    Var = p̄(1−p̄)(Σsᵢ²nᵢ − (Σsᵢnᵢ)²/N), z = T/√Var — every input an
    exact BIGINT fold, the z a single double tree spelled identically in
    the oracle.

    Scale shape: one map-side dose projection, one combinable 4-group
    fold, one 4→1-row sum — no shuffle wider than 4 rows after the
    first fold."""
    ev = click_purchase_events(spark, sf_dir)
    c = ev.select(
        F.floor(F.hour("ts") / 6.0).cast("bigint").alias("dose"),
        (F.col("event_type") == "purchase").alias("pos"))
    g = (c.groupBy("dose")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.count(F.when(F.col("pos"), 1)).cast("bigint").alias("r")))
    s = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("r").cast("bigint").alias("rt"),
        F.sum(F.col("dose") * F.col("n")).cast("bigint").alias("sn"),
        F.sum(F.col("dose") * F.col("r")).cast("bigint").alias("sr"),
        F.sum(F.col("dose") * F.col("dose") * F.col("n"))
        .cast("bigint").alias("sn2"))
    pbar = F.col("rt").cast("double") / F.col("nt").cast("double")
    t_stat = F.col("sr").cast("double") - pbar * F.col("sn").cast("double")
    var = (pbar * (F.lit(1.0) - pbar)
           * (F.col("sn2").cast("double")
              - F.col("sn").cast("double") * F.col("sn").cast("double")
                / F.col("nt").cast("double")))
    return s.select(
        F.col("nt").alias("n_total"),
        F.col("rt").alias("n_success"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(t_stat / F.sqrt(var), 6).alias("z_trend"))


# ---------------------------------------------------------------------------
# Bartlett's test for homogeneity of variances
# ---------------------------------------------------------------------------

_BARTLETT_ORACLE = """
WITH c AS (
  SELECT event_type AS grp,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events
), g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xc) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(xc AS DECIMAL(38,0)) * xc) AS DECIMAL(38,0)) AS s2
  FROM c GROUP BY grp
), v AS (
  SELECT grp, n,
         (CAST(s2 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         / CAST(n - 1 AS DOUBLE) AS var_i
  FROM g
), terms AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(round((CAST(n - 1 AS DOUBLE)) * var_i
                             * 1000000.0, 0) AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS ssq,
         CAST(SUM(CAST(round((CAST(n - 1 AS DOUBLE)) * ln(var_i)
                             * 1000000.0, 0) AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS snl,
         CAST(SUM(CAST(round(1000000000000.0 / CAST(n - 1 AS DOUBLE), 0)
                       AS BIGINT)) AS BIGINT) AS sinv
  FROM v
)
SELECT k, nt AS n_total,
       round(CAST(ssq AS DOUBLE) / 1000000.0 / CAST(nt - k AS DOUBLE), 6)
         AS pooled_var,
       round(1.0 + (CAST(sinv AS DOUBLE) / 1000000000000.0
                    - 1.0 / CAST(nt - k AS DOUBLE))
                   / (3.0 * CAST(k - 1 AS DOUBLE)), 6) AS correction_c,
       round((CAST(nt - k AS DOUBLE)
              * ln(CAST(ssq AS DOUBLE) / 1000000.0 / CAST(nt - k AS DOUBLE))
              - CAST(snl AS DOUBLE) / 1000000.0)
             / (1.0 + (CAST(sinv AS DOUBLE) / 1000000000000.0
                       - 1.0 / CAST(nt - k AS DOUBLE))
                      / (3.0 * CAST(k - 1 AS DOUBLE))), 6)
         AS bartlett_chi2
FROM terms
"""


@register("stat_bartlett_test", oracle=_BARTLETT_ORACLE)
def stat_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across the five event
    types — the PARAMETRIC sibling of stat_brown_forsythe (more powerful
    under normality, famously fragile without it; reading both is the
    textbook practice). χ² = [(N−k)·ln(Sp²) − Σ(nᵢ−1)ln(Sᵢ²)]/C with the
    Bartlett small-sample correction C. Per-group variances come off
    exact decimal(38,0) moment folds; the (nᵢ−1)·Sᵢ², (nᵢ−1)·ln(Sᵢ²)
    and 1/(nᵢ−1) cross-group sums are each quantized to fixed-point
    integers per group BEFORE summing (k=5 terms), so every fold is
    associative and partition-order-free.

    Scale shape: one combinable 5-group moment fold, one 5→1-row
    integer fold; the corpus is read once."""
    ev = load_table(spark, "events", sf_dir)
    xc = round_cents("value")
    g = (ev.select(F.col("event_type").alias("grp"), xc.alias("xc"))
         .groupBy("grp")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("xc").cast("decimal(38,0)").alias("s1"),
              F.sum(F.col("xc").cast("decimal(38,0)") * F.col("xc"))
              .cast("decimal(38,0)").alias("s2")))
    var_i = sample_var()
    v = g.select("grp", "n", var_i.alias("var_i"))
    terms = v.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.round((F.col("n") - 1).cast("double") * F.col("var_i")
                      * 1000000.0, 0).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("ssq"),
        F.sum(F.round((F.col("n") - 1).cast("double") * F.log("var_i")
                      * 1000000.0, 0).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("snl"),
        F.sum(F.round(F.lit(1000000000000.0)
                      / (F.col("n") - 1).cast("double"), 0).cast("bigint"))
        .cast("bigint").alias("sinv"))
    nmk = (F.col("nt") - F.col("k")).cast("double")
    pooled = F.col("ssq").cast("double") / 1000000.0 / nmk
    corr = (F.lit(1.0)
            + (F.col("sinv").cast("double") / 1000000000000.0
               - F.lit(1.0) / nmk)
              / (3.0 * (F.col("k") - 1).cast("double")))
    chi2 = (nmk * F.log(pooled)
            - F.col("snl").cast("double") / 1000000.0) / corr
    return terms.select(
        "k", F.col("nt").alias("n_total"),
        F.round(pooled, 6).alias("pooled_var"),
        F.round(corr, 6).alias("correction_c"),
        F.round(chi2, 6).alias("bartlett_chi2"))


# ---------------------------------------------------------------------------
# Durbin–Watson serial-correlation diagnostic
# ---------------------------------------------------------------------------

_DW_ORACLE = """
WITH h AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS eh,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), x AS (
  SELECT eh - (SELECT MIN(eh) FROM h) AS x, y FROM h
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM x
), co AS (
  SELECT n,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
         - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS a
  FROM s
), e AS (
  SELECT x.x,
         CAST(round((CAST(y AS DOUBLE) - co.a - co.b * CAST(x.x AS DOUBLE))
                    * 1000000.0, 0) AS BIGINT) AS eq
  FROM x CROSS JOIN co
), d AS (
  SELECT eq, eq - lag(eq) OVER (ORDER BY x) AS de FROM e
)
SELECT (SELECT n FROM co) AS n_hours,
       (SELECT round(b, 6) FROM co) AS slope,
       (SELECT round(a, 6) FROM co) AS intercept,
       round(CAST(SUM(CAST(de AS DECIMAL(38,0)) * de) AS DOUBLE)
             / CAST(SUM(CAST(eq AS DECIMAL(38,0)) * eq) AS DOUBLE), 6)
         AS dw_stat
FROM d
"""


def _hourly_purchase_trend(spark: SparkSession,
                           sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """OLS fit of hourly purchase cents on time. Returns the series
    (x, y) — x the hour index from the first purchase hour, y that hour's
    purchase cents — and the one-row fit (n, b, a): the slope and
    intercept off exact BIGINT sums through one identical double tree."""
    ev = (load_table(spark, "events", sf_dir)
          .where(F.col("event_type") == "purchase"))
    cents = round_cents("value")
    h = (ev.select(
            (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
            .cast("bigint").alias("eh"),
            cents.alias("c"))
         .groupBy("eh")
         .agg(F.sum("c").cast("bigint").alias("y")))
    mn = h.agg(F.min("eh").alias("m"))
    x = (h.crossJoin(F.broadcast(mn))
         .select((F.col("eh") - F.col("m")).alias("x"), "y"))
    s = x.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("x").cast("bigint").alias("sx"),
              F.sum("y").cast("bigint").alias("sy"),
              F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
              F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"))
    nd = F.col("n").cast("double")
    b = ((nd * F.col("sxy").cast("double")
          - F.col("sx").cast("double") * F.col("sy").cast("double"))
         / (nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")))
    a = F.col("sy").cast("double") / nd - b * F.col("sx").cast("double") / nd
    return x, s.select("n", b.alias("b"), a.alias("a"))


@register("stat_durbin_watson", oracle=_DW_ORACLE)
def stat_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson serial-correlation diagnostic on the residuals of
    the hourly-purchase-cents-vs-time OLS — the regression-health check
    the OLS family (stat_ols_two_feature, ts_trend_slope) never
    reports: DW ≈ 2 means independent residuals, → 0 positive
    autocorrelation (the usual time-series failure), → 4 negative.
    DW = Σ(eₜ−eₜ₋₁)²/Σeₜ². Slope/intercept come off exact BIGINT sums;
    each residual is ONE identical double tree quantized to 1e-6-unit
    integers, so both quadratic sums are exact decimal(38,0) folds and
    the statistic is partition-order-free.

    Scale shape: calendar-bounded hourly fold (≤8,784 rows/year
    regardless of corpus size); broadcast 1-row coefficients; one lag
    window over the bounded DOMAIN; one integer fold to a single row."""
    x, co = _hourly_purchase_trend(spark, sf_dir)
    e = (x.crossJoin(F.broadcast(co))
         .select("x", "n", "a", "b",
                 F.round((F.col("y").cast("double") - F.col("a")
                          - F.col("b") * F.col("x").cast("double"))
                         * 1000000.0, 0).cast("bigint").alias("eq")))
    w = Window.orderBy("x")
    d = e.select("n", "a", "b", "eq",
                 (F.col("eq") - F.lag("eq").over(w)).alias("de"))
    return (d.groupBy("n", "a", "b")
            .agg(F.sum(F.col("de").cast("decimal(38,0)") * F.col("de"))
                 .alias("num"),
                 F.sum(F.col("eq").cast("decimal(38,0)") * F.col("eq"))
                 .alias("den"))
            .select(F.col("n").alias("n_hours"),
                    F.round(F.col("b"), 6).alias("slope"),
                    F.round(F.col("a"), 6).alias("intercept"),
                    F.round(F.col("num").cast("double")
                            / F.col("den").cast("double"), 6)
                    .alias("dw_stat")))


# ---------------------------------------------------------------------------
# MCC / Youden-J / balanced-accuracy threshold sweep
# ---------------------------------------------------------------------------

_MCC_SWEEP_ORACLE = """
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), thr AS (
  SELECT CAST(r * 5000 AS BIGINT) AS thr FROM range(1, 10) AS t(r)
), cells AS (
  SELECT thr,
         CAST(COUNT(*) FILTER (WHERE pos AND xc >= thr) AS BIGINT) AS tp,
         CAST(COUNT(*) FILTER (WHERE NOT pos AND xc >= thr) AS BIGINT) AS fp,
         CAST(COUNT(*) FILTER (WHERE NOT pos AND xc < thr) AS BIGINT) AS tn,
         CAST(COUNT(*) FILTER (WHERE pos AND xc < thr) AS BIGINT) AS fn
  FROM c CROSS JOIN thr GROUP BY thr
)
SELECT thr, tp, fp, tn, fn,
       CASE WHEN (tp+fp) = 0 OR (tp+fn) = 0 OR (tn+fp) = 0 OR (tn+fn) = 0
            THEN 0.0
            ELSE round((CAST(CAST(tp AS DECIMAL(38,0)) * tn
                             - CAST(fp AS DECIMAL(38,0)) * fn AS DOUBLE))
                       / (sqrt(CAST(tp+fp AS DOUBLE))
                          * sqrt(CAST(tp+fn AS DOUBLE))
                          * sqrt(CAST(tn+fp AS DOUBLE))
                          * sqrt(CAST(tn+fn AS DOUBLE))), 6) END AS mcc,
       round(CAST(tp AS DOUBLE) / CAST(tp+fn AS DOUBLE)
             + CAST(tn AS DOUBLE) / CAST(tn+fp AS DOUBLE) - 1.0, 6)
         AS youden_j,
       round((CAST(tp AS DOUBLE) / CAST(tp+fn AS DOUBLE)
              + CAST(tn AS DOUBLE) / CAST(tn+fp AS DOUBLE)) / 2.0, 6)
         AS balanced_acc
FROM cells
ORDER BY thr
"""


@register("ml_mcc_threshold_sweep", oracle=_MCC_SWEEP_ORACLE)
def ml_mcc_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation, Youden's J and balanced accuracy swept over
    the same nine decision thresholds as ml_confusion_threshold_sweep —
    the IMBALANCE-ROBUST operating-point scores that table leaves out
    (precision/recall/F1 all ignore the true-negative cell; MCC is the
    one single-number score using all four). Counts are exact integers
    from ONE conditional fold; the MCC numerator is a decimal(38,0)
    product difference (tp·tn can exceed int64 at corpus scale), the
    denominator a product of four single sqrts so nothing overflows
    double range; 0-margin guards are the same CASE in both engines.

    Scale shape: map-side ×9 broadcast-spine fan-out folding to 9 rows
    in ONE combinable groupBy — one corpus pass for the whole sweep."""
    cells = _confusion_cells(spark, sf_dir)
    tp, fp, tn, fn = (F.col(x) for x in ("tp", "fp", "tn", "fn"))
    zero = ((tp + fp == 0) | (tp + fn == 0) | (tn + fp == 0)
            | (tn + fn == 0))
    mcc = F.when(zero, F.lit(0.0)).otherwise(
        F.round((tp.cast("decimal(38,0)") * tn
                 - fp.cast("decimal(38,0)") * fn).cast("double")
                / (F.sqrt((tp + fp).cast("double"))
                   * F.sqrt((tp + fn).cast("double"))
                   * F.sqrt((tn + fp).cast("double"))
                   * F.sqrt((tn + fn).cast("double"))), 6))
    sens = tp.cast("double") / (tp + fn).cast("double")
    spec = tn.cast("double") / (tn + fp).cast("double")
    return (cells.select(
        "thr", "tp", "fp", "tn", "fn",
        mcc.alias("mcc"),
        F.round(sens + spec - 1.0, 6).alias("youden_j"),
        F.round((sens + spec) / 2.0, 6).alias("balanced_acc"))
        .orderBy("thr"))


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroskedasticity test (Koenker LM form)
# ---------------------------------------------------------------------------

# chi-square(1) upper 5% point, frozen (the one transcendental threshold)
_BP_CHI2_95 = 3.841458820694124

_BP_ORACLE = f"""
WITH h AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS eh,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), x AS (
  SELECT eh - (SELECT MIN(eh) FROM h) AS x, y FROM h
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM x
), co AS (
  SELECT n, sx, sxx,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
         - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS a
  FROM s
), e AS (
  SELECT x.x,
         CAST(round(CAST(y AS DOUBLE) - co.a - co.b * CAST(x.x AS DOUBLE),
                    0) AS BIGINT) AS ec
  FROM x CROSS JOIN co
), sig AS (
  SELECT sqrt(CAST(SUM(CAST(ec AS DECIMAL(38,0)) * ec) AS DOUBLE)
              / CAST((SELECT n FROM co) - 2 AS DOUBLE)) AS sd
  FROM e
), u AS (
  SELECT e.x,
         CAST(round((CAST(e.ec AS DOUBLE) / sig.sd)
                    * (CAST(e.ec AS DOUBLE) / sig.sd) * 1000000.0, 0)
              AS BIGINT) AS uq
  FROM e CROSS JOIN sig
), aux AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(uq) AS BIGINT) AS su,
         CAST(SUM(x * uq) AS BIGINT) AS sxu,
         CAST(SUM(CAST(uq AS DECIMAL(38,0)) * uq) AS DECIMAL(38,0)) AS suu
  FROM u
)
SELECT n AS n_hours,
       round((CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
                   - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))), 6)
         AS r2_aux,
       round(CAST(n AS DOUBLE)
             * (CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
                   - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))), 6)
         AS bp_lm,
       CAST(n AS DOUBLE)
       * (CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE))
       * (CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE))
       / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
             - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)))
       > {_BP_CHI2_95!r} AS heteroskedastic
FROM aux
"""


@register("stat_breusch_pagan", oracle=_BP_ORACLE)
def stat_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan heteroskedasticity test (Koenker's LM = n·R² form)
    on the hourly-purchase-cents OLS: does residual VARIANCE drift with
    time — the other regression-health check beside stat_durbin_watson's
    serial correlation (heteroskedastic residuals invalidate the OLS
    standard errors every downstream CI uses). Residuals are quantized
    to whole cents; the auxiliary regressand is the STANDARDIZED squared
    residual (e/σ̂)² quantized 1e-6 — R² is invariant to that scaling,
    and it BOUNDS the integer fold at any corpus scale (z² ≤ ~10², so
    Σu and Σu² stay in BIGINT range at 100 TB where raw e² sums would
    overflow even decimal(38)). Decision vs the FROZEN χ²₁ 5%% point.

    Scale shape: calendar-bounded hourly fold; two broadcast 1-row
    passes (coefficients, then σ̂); every fold an exact integer sum over
    the bounded domain."""
    x, co = _hourly_purchase_trend(spark, sf_dir)
    e = (x.crossJoin(F.broadcast(co))
         .select("x", "n",
                 F.round(F.col("y").cast("double") - F.col("a")
                         - F.col("b") * F.col("x").cast("double"), 0)
                 .cast("bigint").alias("ec")))
    sig = e.agg(F.sqrt(F.sum(F.col("ec").cast("decimal(38,0)")
                             * F.col("ec")).cast("double")
                       / (F.max("n") - 2).cast("double")).alias("sd"))
    z = F.col("ec").cast("double") / F.col("sd")
    u = (e.crossJoin(F.broadcast(sig))
         .select("x", F.round(z * z * 1000000.0, 0).cast("bigint")
                 .alias("uq")))
    aux = u.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("x").cast("bigint").alias("sx"),
                F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
                F.sum("uq").cast("bigint").alias("su"),
                F.sum(F.col("x") * F.col("uq")).cast("bigint").alias("sxu"),
                F.sum(F.col("uq").cast("decimal(38,0)") * F.col("uq"))
                .cast("decimal(38,0)").alias("suu"))
    nd2 = F.col("n").cast("double")
    num = (nd2 * F.col("sxu").cast("double")
           - F.col("sx").cast("double") * F.col("su").cast("double"))
    r2 = (num * num
          / ((nd2 * F.col("sxx").cast("double")
              - F.col("sx").cast("double") * F.col("sx").cast("double"))
             * (nd2 * F.col("suu").cast("double")
                - F.col("su").cast("double") * F.col("su").cast("double"))))
    return aux.select(
        F.col("n").alias("n_hours"),
        F.round(r2, 6).alias("r2_aux"),
        F.round(nd2 * r2, 6).alias("bp_lm"),
        (nd2 * r2 > F.lit(_BP_CHI2_95)).alias("heteroskedastic"))


# ---------------------------------------------------------------------------
# cost-sensitive operating point over the threshold sweep
# ---------------------------------------------------------------------------

# frozen unit costs in cents: a false positive wastes a 100-cent
# incentive, a missed purchase forgoes 400 cents of margin
_COST_FP = 100
_COST_FN = 400

_COST_CURVE_ORACLE = f"""
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), thr AS (
  SELECT CAST(r * 5000 AS BIGINT) AS thr FROM range(1, 10) AS t(r)
), cells AS (
  SELECT thr,
         CAST(COUNT(*) FILTER (WHERE NOT pos AND xc >= thr) AS BIGINT)
           AS fp,
         CAST(COUNT(*) FILTER (WHERE pos AND xc < thr) AS BIGINT) AS fn
  FROM c CROSS JOIN thr GROUP BY thr
), costed AS (
  SELECT thr, fp, fn,
         {_COST_FP} * fp + {_COST_FN} * fn AS expected_cost_cents
  FROM cells
)
SELECT thr, fp, fn, expected_cost_cents,
       expected_cost_cents = (SELECT MIN(expected_cost_cents) FROM costed)
         AS is_min_cost
FROM costed ORDER BY thr
"""


@register("ml_cost_curve_threshold", oracle=_COST_CURVE_ORACLE)
def ml_cost_curve_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive operating point: expected misclassification cost
    100·FP + 400·FN cents (frozen asymmetric cost matrix) at each of
    the nine sweep thresholds, with the cost-minimizing row flagged — the
    business-decision layer above ml_optimal_f1_threshold (F1 weighs
    the two error types equally; deployments almost never do, and the
    frozen asymmetric cost matrix is exactly how that enters). Every
    quantity is an exact integer: counts from one conditional fold,
    costs pure integer arithmetic, argmin by integer comparison
    against a broadcast 1-row minimum.

    Scale shape: the ×9 sweep is one broadcast-spine conditional fold
    (one corpus pass); the min is a 9-row fold broadcast back."""
    pred = F.col("xc") >= F.col("thr")
    cells = (_threshold_pairs(spark, sf_dir)
             .groupBy("thr")
             .agg(F.count(F.when(~F.col("pos") & pred, 1)).cast("bigint")
                  .alias("fp"),
                  F.count(F.when(F.col("pos") & ~pred, 1)).cast("bigint")
                  .alias("fn")))
    costed = cells.select(
        "thr", "fp", "fn",
        (F.lit(_COST_FP) * F.col("fp") + F.lit(_COST_FN) * F.col("fn"))
        .alias("expected_cost_cents"))
    mn = costed.agg(F.min("expected_cost_cents").alias("mc"))
    return (costed.crossJoin(F.broadcast(mn))
            .select("thr", "fp", "fn", "expected_cost_cents",
                    (F.col("expected_cost_cents") == F.col("mc"))
                    .alias("is_min_cost"))
            .orderBy("thr"))


# ---------------------------------------------------------------------------
# Welch's heteroskedastic one-way ANOVA
# ---------------------------------------------------------------------------

_WELCH_ANOVA_ORACLE = """
WITH c AS (
  SELECT event_type AS t, CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events
), per AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xc) AS BIGINT) AS s1,
         CAST(SUM(CAST(xc AS DECIMAL(38,0)) * xc) AS DECIMAL(38,0)) AS s2
  FROM c GROUP BY t
), g AS (
  SELECT t, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         CAST(n AS DOUBLE)
           / ((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS w
  FROM per
), f1 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         list_sum(list(w ORDER BY t)) AS bigw,
         list_sum(list(w * mu ORDER BY t)) AS swmu
  FROM g
), f2 AS (
  SELECT f1.k, f1.bigw,
         list_sum(list(g.w * (g.mu - f1.swmu / f1.bigw)
                           * (g.mu - f1.swmu / f1.bigw) ORDER BY g.t))
           AS a_term,
         list_sum(list((1.0 - g.w / f1.bigw) * (1.0 - g.w / f1.bigw)
                       / CAST(g.n - 1 AS DOUBLE) ORDER BY g.t)) AS b_term
  FROM g CROSS JOIN f1 GROUP BY f1.k, f1.bigw
)
SELECT k AS n_groups,
       round(a_term / (CAST(k AS DOUBLE) - 1.0)
             / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
                      / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                      * b_term), 6) AS welch_f,
       round((CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
             / (3.0 * b_term), 6) AS df2_welch
FROM f2
"""


@register("stat_welch_anova", oracle=_WELCH_ANOVA_ORACLE)
def stat_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroskedastic one-way ANOVA across the five event
    types — what stat_anova_oneway_f should become once
    stat_bartlett_test says the variances are UNEQUAL (classic ANOVA's
    pooled variance is exactly the assumption Welch drops, weighting
    each group by nᵢ/sᵢ²). Per-group moments are exact
    BIGINT/decimal(38,0); the three cross-group float reductions
    (ΣW, Σw·x̄ and then the A/B terms that depend on them) run as
    FIXED-ORDER 5-term list folds in both engines (the
    stat_anova_oneway_f rule), so no float sum depends on
    partitioning; df₂ = (k²−1)/(3B) is the Welch–Satterthwaite
    denominator d.f.

    Scale shape: one combinable 5-group moment fold; both ordered
    folds run over 5 rows — data-size-free after the first fold."""
    ev = load_table(spark, "events", sf_dir)
    xc = round_cents("value")
    per = (ev.select(F.col("event_type").alias("t"), xc.alias("xc"))
           .groupBy("t").agg(*wide_power_sums("xc")))
    mu = F.col("s1").cast("double") / F.col("n").cast("double")
    w = F.col("n").cast("double") / sample_var()
    g = per.select("t", "n", mu.alias("mu"), w.alias("w"))

    def ofold(expr, name):
        return ordered_fold(["t"], expr).alias(name)

    f1 = g.agg(F.count(F.lit(1)).cast("bigint").alias("k"),
               ofold(F.col("w"), "bigw"),
               ofold(F.col("w") * F.col("mu"), "swmu"))
    j = g.crossJoin(F.broadcast(f1))
    mw = F.col("swmu") / F.col("bigw")
    f2 = (j.groupBy("k", "bigw")
          .agg(ofold(F.col("w") * (F.col("mu") - mw)
                     * (F.col("mu") - mw), "a_term"),
               ofold((F.lit(1.0) - F.col("w") / F.col("bigw"))
                     * (F.lit(1.0) - F.col("w") / F.col("bigw"))
                     / (F.col("n") - 1).cast("double"), "b_term")))
    kd = F.col("k").cast("double")
    welch_f = (F.col("a_term") / (kd - 1.0)
               / (F.lit(1.0) + 2.0 * (kd - 2.0) / (kd * kd - 1.0)
                  * F.col("b_term")))
    return f2.select(
        F.col("k").alias("n_groups"),
        F.round(welch_f, 6).alias("welch_f"),
        F.round((kd * kd - 1.0) / (3.0 * F.col("b_term")), 6)
        .alias("df2_welch"))


# ---------------------------------------------------------------------------
# Cronbach's alpha (internal consistency of the five hourly streams)
# ---------------------------------------------------------------------------

_CRONBACH_ORACLE = """
WITH hours AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h FROM events
), types AS (
  SELECT DISTINCT event_type AS t FROM events
), obs AS (
  SELECT date_trunc('hour', ts) AS h, event_type AS t,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT hours.h, types.t, COALESCE(obs.x, 0) AS x
  FROM hours CROSS JOIN types
  LEFT JOIN obs ON obs.h = hours.h AND obs.t = types.t
), item AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS s2
  FROM grid GROUP BY t
), iv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(MAX(n) AS BIGINT) AS n_obs,
         list_sum(list((CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                          / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)
                       ORDER BY t)) AS sum_item_var
  FROM item
), rowsum AS (
  SELECT h, CAST(SUM(x) AS BIGINT) AS r FROM grid GROUP BY h
), tv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r) AS BIGINT) AS s1,
         CAST(SUM(CAST(r AS DECIMAL(38,0)) * r) AS DECIMAL(38,0)) AS s2
  FROM rowsum
)
SELECT iv.k AS k_items, iv.n_obs,
       round(iv.sum_item_var / 10000.0, 6) AS sum_item_var_d2,
       round((CAST(tv.s2 AS DOUBLE)
              - CAST(tv.s1 AS DOUBLE) * CAST(tv.s1 AS DOUBLE)
                / CAST(tv.n AS DOUBLE)) / CAST(tv.n - 1 AS DOUBLE)
             / 10000.0, 6) AS total_var_d2,
       round(CAST(iv.k AS DOUBLE) / (CAST(iv.k AS DOUBLE) - 1.0)
             * (1.0 - iv.sum_item_var
                      / ((CAST(tv.s2 AS DOUBLE)
                          - CAST(tv.s1 AS DOUBLE) * CAST(tv.s1 AS DOUBLE)
                            / CAST(tv.n AS DOUBLE))
                         / CAST(tv.n - 1 AS DOUBLE))), 6)
         AS cronbach_alpha
FROM iv CROSS JOIN tv
"""


@register("stat_cronbach_alpha", oracle=_CRONBACH_ORACLE)
def stat_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the five hourly revenue streams treated as
    scale items (observations = hours, items = event types):
    α = k/(k−1)·(1 − Σvarᵢ/var_total) — the do-these-series-move-
    together internal-consistency coefficient psychometrics
    standardized, and in a metrics platform the one-number check that a
    composite 'engagement' index isn't averaging five unrelated
    signals. The hour×type grid is DENSIFIED (missing cells are true
    zeros — both engines build the same cross join), every variance
    comes off exact integer/decimal moments, and the one cross-item
    float sum is the fixed-order 5-term list fold.

    Scale shape: one (hour, type) fold (calendar-bounded output), one
    ≤8784×5 grid, two moment folds — data-size-free after the first
    fold."""
    ev = load_table(spark, "events", sf_dir)
    xc = round_cents("value")
    obs = (ev.select(F.date_trunc("hour", F.col("ts")).alias("h"),
                     F.col("event_type").alias("t"), xc.alias("c"))
           .groupBy("h", "t")
           .agg(F.sum("c").cast("bigint").alias("x")))
    hours = obs.select("h").distinct()
    types = obs.select("t").distinct()
    grid = (hours.crossJoin(F.broadcast(types))
            .join(obs, ["h", "t"], "left")
            .select("h", "t", F.coalesce("x", F.lit(0)).alias("x")))
    item = grid.groupBy("t").agg(*wide_power_sums("x"))
    var_i = sample_var()
    iv = item.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("n").cast("bigint").alias("n_obs"),
        ordered_fold(["t"], var_i).alias("sum_item_var"))
    rowsum = (grid.groupBy("h")
              .agg(F.sum("x").cast("bigint").alias("r")))
    tv = rowsum.agg(*wide_power_sums("r"))
    var_t = sample_var()
    kd = F.col("k").cast("double")
    return (iv.crossJoin(F.broadcast(tv))
            .select(F.col("k").alias("k_items"), "n_obs",
                    F.round(F.col("sum_item_var") / 10000.0, 6)
                    .alias("sum_item_var_d2"),
                    F.round(var_t / 10000.0, 6).alias("total_var_d2"),
                    F.round(kd / (kd - 1.0)
                            * (F.lit(1.0)
                               - F.col("sum_item_var") / var_t), 6)
                    .alias("cronbach_alpha")))


# ---------------------------------------------------------------------------
# fixed-effect meta-analysis pooling (inverse-variance)
# ---------------------------------------------------------------------------

_META_Z95 = 1.959963984540054  # frozen two-sided 95% normal quantile

_META_ORACLE = f"""
WITH c AS (
  -- DuckDB dayofweek is 0-based Sunday, Spark is 1-based: +1 aligns
  SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
         event_type = 'click' AS is1,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), per AS (
  SELECT dow,
    CAST(COUNT(*) FILTER (WHERE is1) AS BIGINT) AS n1,
    CAST(SUM(xc) FILTER (WHERE is1) AS BIGINT) AS s1,
    CAST(SUM(CAST(xc AS DECIMAL(38,0)) * xc) FILTER (WHERE is1)
         AS DECIMAL(38,0)) AS ss1,
    CAST(COUNT(*) FILTER (WHERE NOT is1) AS BIGINT) AS n2,
    CAST(SUM(xc) FILTER (WHERE NOT is1) AS BIGINT) AS s2,
    CAST(SUM(CAST(xc AS DECIMAL(38,0)) * xc) FILTER (WHERE NOT is1)
         AS DECIMAL(38,0)) AS ss2
  FROM c GROUP BY dow
), study AS (
  SELECT dow,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS theta,
         ((CAST(ss1 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE)
         + ((CAST(ss2 AS DOUBLE)
             - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
               / CAST(n2 AS DOUBLE))
            / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE) AS v
  FROM per
), f1 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         list_sum(list(1.0 / v ORDER BY dow)) AS sw,
         list_sum(list(theta / v ORDER BY dow)) AS swt
  FROM study
), f2 AS (
  SELECT f1.k, f1.sw, f1.swt,
         list_sum(list((study.theta - f1.swt / f1.sw)
                       * (study.theta - f1.swt / f1.sw) / study.v
                       ORDER BY study.dow)) AS q
  FROM study CROSS JOIN f1 GROUP BY f1.k, f1.sw, f1.swt
)
SELECT k AS k_studies,
       round(swt / sw / 100.0, 6) AS pooled_diff_dollars,
       round((swt / sw - {_META_Z95!r} * sqrt(1.0 / sw)) / 100.0, 6)
         AS ci_lo_dollars,
       round((swt / sw + {_META_Z95!r} * sqrt(1.0 / sw)) / 100.0, 6)
         AS ci_hi_dollars,
       round(q, 6) AS q_heterogeneity,
       round(CASE WHEN q > CAST(k - 1 AS DOUBLE)
                  THEN (q - CAST(k - 1 AS DOUBLE)) / q ELSE 0.0 END, 6)
         AS i_squared
FROM f2
"""


@register("stat_meta_fixed_effect_pool", oracle=_META_ORACLE)
def stat_meta_fixed_effect_pool(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Fixed-effect (inverse-variance) meta-analysis of the
    click-vs-purchase mean gap across seven day-of-week strata treated
    as independent studies: pooled estimate θ̂ = Σwθ/Σw with w = 1/v,
    its 95%% CI (frozen normal quantile), Cochran's heterogeneity Q
    and I² = (Q−(k−1))/Q — the does-the-effect-replicate-across-strata
    machinery every experimentation platform needs once a metric is
    read by segment (and the formal version of eyeballing seven
    per-dow Welch tests). Per-stratum moments are exact
    BIGINT/decimal(38,0); the cross-stratum float reductions are
    FIXED-ORDER 7-term list folds (the stat_welch_anova rule), two
    passes because Q needs θ̂.

    Scale shape: one combinable 7-group six-sum fold; both ordered
    folds run over 7 rows — data-size-free after the first fold."""
    ev = click_purchase_events(spark, sf_dir)
    xc = round_cents("value")
    is1 = F.col("event_type") == "click"
    per = (ev.select(F.dayofweek("ts").cast("bigint").alias("dow"),
                     is1.alias("is1"), xc.alias("xc"))
           .groupBy("dow")
           .agg(F.count(F.when(F.col("is1"), 1)).cast("bigint").alias("n1"),
                F.sum(F.when(F.col("is1"), F.col("xc"))).cast("bigint")
                .alias("s1"),
                F.sum(F.when(F.col("is1"),
                             F.col("xc").cast("decimal(38,0)")
                             * F.col("xc"))).cast("decimal(38,0)")
                .alias("ss1"),
                F.count(F.when(~F.col("is1"), 1)).cast("bigint")
                .alias("n2"),
                F.sum(F.when(~F.col("is1"), F.col("xc"))).cast("bigint")
                .alias("s2"),
                F.sum(F.when(~F.col("is1"),
                             F.col("xc").cast("decimal(38,0)")
                             * F.col("xc"))).cast("decimal(38,0)")
                .alias("ss2")))
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    v1 = ((F.col("ss1").cast("double")
           - F.col("s1").cast("double") * F.col("s1").cast("double")
             / F.col("n1").cast("double"))
          / (F.col("n1") - 1).cast("double")) / F.col("n1").cast("double")
    v2 = ((F.col("ss2").cast("double")
           - F.col("s2").cast("double") * F.col("s2").cast("double")
             / F.col("n2").cast("double"))
          / (F.col("n2") - 1).cast("double")) / F.col("n2").cast("double")
    study = per.select("dow", (m1 - m2).alias("theta"),
                       (v1 + v2).alias("v"))

    def ofold(expr, name):
        return ordered_fold(["dow"], expr).alias(name)

    f1 = study.agg(F.count(F.lit(1)).cast("bigint").alias("k"),
                   ofold(F.lit(1.0) / F.col("v"), "sw"),
                   ofold(F.col("theta") / F.col("v"), "swt"))
    pooled = F.col("swt") / F.col("sw")
    f2 = (study.crossJoin(F.broadcast(f1))
          .groupBy("k", "sw", "swt")
          .agg(ofold((F.col("theta") - pooled) * (F.col("theta") - pooled)
                     / F.col("v"), "q")))
    kd = (F.col("k") - 1).cast("double")
    se = F.sqrt(F.lit(1.0) / F.col("sw"))
    return f2.select(
        F.col("k").alias("k_studies"),
        F.round(pooled / 100.0, 6).alias("pooled_diff_dollars"),
        F.round((pooled - F.lit(_META_Z95) * se) / 100.0, 6)
        .alias("ci_lo_dollars"),
        F.round((pooled + F.lit(_META_Z95) * se) / 100.0, 6)
        .alias("ci_hi_dollars"),
        F.round(F.col("q"), 6).alias("q_heterogeneity"),
        F.round(F.when(F.col("q") > kd,
                       (F.col("q") - kd) / F.col("q"))
                .otherwise(F.lit(0.0)), 6).alias("i_squared"))


# ---------------------------------------------------------------------------
# process capability indices (Cp / Cpk)
# ---------------------------------------------------------------------------

_CAP_LSL = 500     # spec limits in cents, frozen
_CAP_USL = 30000

_CAPABILITY_ORACLE = f"""
WITH c AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xc) AS BIGINT) AS s1,
         CAST(SUM(CAST(xc AS DECIMAL(38,0)) * xc) AS DECIMAL(38,0)) AS s2,
         CAST(COUNT(*) FILTER (WHERE xc < {_CAP_LSL}
                                  OR xc > {_CAP_USL}) AS BIGINT)
           AS n_out
  FROM c
)
SELECT n, n_out,
       round(CAST(n_out AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS out_of_spec_share,
       round(({_CAP_USL} - {_CAP_LSL})
             / (6.0 * sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                              / CAST(n AS DOUBLE))
                           / CAST(n - 1 AS DOUBLE))), 6) AS cp,
       round(LEAST({_CAP_USL} - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE),
                   CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) - {_CAP_LSL})
             / (3.0 * sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                              / CAST(n AS DOUBLE))
                           / CAST(n - 1 AS DOUBLE))), 6) AS cpk
FROM s
"""


@register("stat_capability_indices", oracle=_CAPABILITY_ORACLE)
def stat_capability_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability Cp/Cpk of purchase values against frozen spec
    limits (5–300 dollars): Cp = spec width / 6σ (what the process
    COULD hold if centered), Cpk = nearest-limit margin / 3σ (what it
    ACTUALLY holds) — the SPC capability pair beside the control-chart
    family (ts_cusum_drift, ts_bollinger_bands watch stability over
    time; capability scores the distribution against the tolerance).
    Moments and the out-of-spec count are exact folds; each index is
    one identical double tree.

    Scale shape: ONE combinable four-sum fold to a single row."""
    ev = (load_table(spark, "events", sf_dir)
          .where(F.col("event_type") == "purchase"))
    xc = round_cents("value")
    s = ev.select(xc.alias("xc")).agg(
        *wide_power_sums("xc"),
        F.count(F.when((F.col("xc") < _CAP_LSL)
                       | (F.col("xc") > _CAP_USL), 1)).cast("bigint")
        .alias("n_out"))
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    sd = F.sqrt(sample_var())
    return s.select(
        "n", "n_out",
        F.round(F.col("n_out").cast("double") / nd, 6)
        .alias("out_of_spec_share"),
        F.round(F.lit(float(_CAP_USL - _CAP_LSL)) / (6.0 * sd), 6)
        .alias("cp"),
        F.round(F.least(F.lit(float(_CAP_USL)) - mu,
                        mu - F.lit(float(_CAP_LSL))) / (3.0 * sd), 6)
        .alias("cpk"))


# ---------------------------------------------------------------------------
# DataFrameStatFunctions crosstab
# ---------------------------------------------------------------------------

_CROSSTAB_ORACLE = """
SELECT o_orderpriority AS o_orderpriority_k3,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 = 0) AS BIGINT) AS "0",
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 = 1) AS BIGINT) AS "1",
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 = 2) AS BIGINT) AS "2"
FROM orders GROUP BY o_orderpriority
"""


@register("stat_crosstab", oracle=_CROSSTAB_ORACLE)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.stat.crosstab` — the contingency-table member of Spark's
    DataFrameStatFunctions surface: pairwise frequency counts with the
    second column's values becoming columns. The pivot key is
    `o_orderkey % 3` (all residues present at every SF, so the output
    schema is corpus-independent — a data-dependent category set would
    make the column list itself flaky at small scales). The oracle is
    the FILTER-clause expansion, proving crosstab is exactly a
    conditional-count pivot.

    Scale shape: one hash aggregate on the pair key then a tiny pivot;
    the category space, not the row count, bounds the output."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderpriority", (F.col("o_orderkey") % 3).cast("string").alias("k3"))
    ct = o.stat.crosstab("o_orderpriority", "k3")
    return ct.select("o_orderpriority_k3",
                     F.col("0").cast("bigint").alias("0"),
                     F.col("1").cast("bigint").alias("1"),
                     F.col("2").cast("bigint").alias("2"))


# ---------------------------------------------------------------------------
# chi-square independence cells
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH cells AS (
  SELECT event_type, CAST(user_id % 3 AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY event_type, CAST(user_id % 3 AS BIGINT)
), tot AS (
  SELECT event_type, bucket, obs,
         SUM(obs) OVER (PARTITION BY event_type) AS row_n,
         SUM(obs) OVER (PARTITION BY bucket) AS col_n,
         SUM(obs) OVER () AS grand_n
  FROM cells
)
SELECT event_type, bucket, obs,
       CAST(row_n * col_n AS DOUBLE) / CAST(grand_n AS DOUBLE) AS expected,
       (CAST(obs AS DOUBLE)
        - CAST(row_n * col_n AS DOUBLE) / CAST(grand_n AS DOUBLE))
       * (CAST(obs AS DOUBLE)
          - CAST(row_n * col_n AS DOUBLE) / CAST(grand_n AS DOUBLE))
       / (CAST(row_n * col_n AS DOUBLE) / CAST(grand_n AS DOUBLE))
         AS chi2_contrib
FROM tot
"""


@register("stat_chi_square_independence", oracle=_CHI2_ORACLE)
def stat_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test cells for event_type × user-bucket —
    the drift/bias check a data team runs on categorical columns (is the
    event mix independent of the user cohort?). Emits PER-CELL observed,
    expected (row·col/grand, all integer counts until the final
    division) and chi² contribution — per-cell rather than the summed
    statistic, deliberately: the cross-cell float SUM is
    association-order-dependent across engines, while each cell's value
    is a fixed tree of correctly-rounded IEEE ops (int→double divisions,
    one subtract, one multiply, one divide) and hashes exactly. The cell
    table is also the more useful artifact (WHICH cell drives the
    drift).

    Scale shape: one groupBy to a (types × buckets)-sized cell table;
    marginals are windows over that tiny table, not the events."""
    ev = load_table(spark, "events", sf_dir)
    cells = (ev.groupBy("event_type",
                        (F.col("user_id") % 3).cast("bigint").alias("bucket"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("obs")))
    tot = cells.select(
        "event_type", "bucket", "obs",
        F.sum("obs").over(Window.partitionBy("event_type")).alias("row_n"),
        F.sum("obs").over(Window.partitionBy("bucket")).alias("col_n"),
        F.sum("obs").over(
            Window.partitionBy(F.lit(1))).alias("grand_n"))
    expected = ((F.col("row_n") * F.col("col_n")).cast("double")
                / F.col("grand_n").cast("double"))
    dev = F.col("obs").cast("double") - expected
    return tot.select("event_type", "bucket", "obs",
                      expected.alias("expected"),
                      (dev * dev / expected).alias("chi2_contrib"))


# ---------------------------------------------------------------------------
# Markov entropy rate
# ---------------------------------------------------------------------------

_ENTROPY_RATE_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), cells AS (
  SELECT prev, event_type AS cur, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
), rows_ AS (
  SELECT prev, cur, c,
         CAST(SUM(c) OVER (PARTITION BY prev) AS BIGINT) AS c_i,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM cells
), contrib AS (
  SELECT prev, cur,
         -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(c AS DOUBLE) / CAST(c_i AS DOUBLE)) AS t,
         n
  FROM rows_
)
SELECT CAST(MAX(n) AS BIGINT) AS n_transitions,
       round(list_sum(list(t ORDER BY prev, cur)), 6)
         AS entropy_rate_nats
FROM contrib
"""


@register("stat_entropy_rate_markov", oracle=_ENTROPY_RATE_ORACLE)
def stat_entropy_rate_markov(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order journey process:
    H(X_t | X_{t-1}) = -sum_ij p(i,j) ln p(j|i) over
    seq_markov_transitions' own cell table -- HOW PREDICTABLE the next
    user step is in one number (0 = deterministic flows, ln 5 =
    uniform), the summary that says whether the transition matrix is
    worth acting on at all. Cell and row-marginal counts are exact
    integers; each cell's contribution is the standard tree; the ONE
    cross-cell float sum folds in FIXED (prev, cur) order (the
    stat_anova_oneway_f rule) and rounds 6 dp (ln).

    Scale shape: one user-keyed lag window, a 25-cell combinable
    groupBy, windows and the ordered fold over those 25 rows."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("event_type").alias("cur"),
                    F.lag("event_type").over(w).alias("prev"))
    cells = (seq.where(F.col("prev").isNotNull())
             .groupBy("prev", "cur")
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    c_i = F.sum("c").over(Window.partitionBy("prev")).cast("bigint")
    n = F.sum("c").over(Window.partitionBy()).cast("bigint")
    rows_ = cells.select("prev", "cur", "c", c_i.alias("c_i"),
                         n.alias("n"))
    t = (-(F.col("c").cast("double") / F.col("n").cast("double"))
         * F.log(F.col("c").cast("double") / F.col("c_i").cast("double")))
    contrib = rows_.select("prev", "cur", t.alias("t"), "n")
    return contrib.agg(
        F.max("n").cast("bigint").alias("n_transitions"),
        F.round(ordered_fold(["prev", "cur"], F.col("t")), 6)
        .alias("entropy_rate_nats"))


# ---------------------------------------------------------------------------
# Ljung-Box white-noise test on the ACF chain
# ---------------------------------------------------------------------------

_LJUNG_ORACLE = f"""
WITH acf_tab AS ({_ACF_ORACLE}
), nser AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT DISTINCT event_type, date_trunc('hour', ts)
        FROM events) GROUP BY event_type
), terms AS (
  SELECT a.event_type, a.lag, nser.n,
         a.acf * a.acf / (CAST(nser.n AS DOUBLE) - CAST(a.lag AS DOUBLE))
           AS t
  FROM acf_tab a JOIN nser ON a.event_type = nser.event_type
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_obs,
       CAST(COUNT(*) AS BIGINT) AS n_lags,
       round(CAST(MAX(n) AS DOUBLE) * (CAST(MAX(n) AS DOUBLE) + 2.0)
             * list_sum(list(t ORDER BY lag)), 6) AS ljung_box_q
FROM terms GROUP BY event_type
"""


@register("stat_ljung_box_q", oracle=_LJUNG_ORACLE)
def stat_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q over ts_acf_multi_lag's OWN 24-lag ACF table -- is
    the hourly series white noise, or is the autocorrelation structure
    real? Q = n(n+2) * sum_k r_k^2/(n-k): large Q rejects
    independence, the formal gate before trusting any of the
    periodicity/trend readouts the ACF suggests visually. The r_k come
    off the same bit-identical Pearson chain as the ACF operator
    (shared HUGEINT moments + identical tree); the ONE cross-lag float
    sum folds in FIXED lag order (the stat_anova_oneway_f rule) and Q
    rounds 6 dp.

    Scale shape: the ACF chain's own shapes (calendar-bounded series,
    broadcast lag spine); the Q fold runs over 24 rows per type."""
    acf = ts_acf_multi_lag(spark, sf_dir) \
        .select("event_type", "lag", "acf")
    ev = load_table(spark, "events", sf_dir)
    nser = (ev.select("event_type",
                      F.date_trunc("hour", "ts").alias("hr")).distinct()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    terms = (acf.join(nser, "event_type")
             .select("event_type", "lag", "n",
                     (F.col("acf") * F.col("acf")
                      / (F.col("n").cast("double")
                         - F.col("lag").cast("double"))).alias("t")))
    nd = F.max("n").cast("double")
    return (terms.groupBy("event_type")
            .agg(F.max("n").cast("bigint").alias("n_obs"),
                 F.count(F.lit(1)).cast("bigint").alias("n_lags"),
                 F.round(nd * (nd + F.lit(2.0))
                         * ordered_fold(["lag"], F.col("t")), 6)
                 .alias("ljung_box_q")))
