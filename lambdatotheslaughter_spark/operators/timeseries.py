"""Time-series operators: resampling, gap-fill, moving and seasonal
statistics, trend and changepoint tests over event and order histories."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import (
    csum, iround, oracle_csum, round_cents)
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table


def hourly_cents(events: DataFrame) -> DataFrame:
    """Per-type hourly revenue series of ``events``: (event_type, hr,
    cents), cents the exact BIGINT sum of each event's value rounded to
    whole cents."""
    return (events.groupBy("event_type",
                           F.date_trunc("hour", "ts").alias("hr"))
            .agg(F.sum(round_cents("value")).cast("bigint").alias("cents")))


def click_purchase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The click and purchase events: the two-class sample that the
    click-vs-purchase tests and scorers read."""
    return (load_table(spark, "events", sf_dir)
            .where(F.col("event_type").isin("click", "purchase")))


# ---------------------------------------------------------------------------
# phase-collapsed DFT energy (which period carries the signal)
# ---------------------------------------------------------------------------

_DFT_PERIODS = (24, 12, 168)

# cos/sin phase tables as FROZEN literals (Python libm values pasted into
# BOTH engines): cos(2*pi*k/p), sin(2*pi*k/p) for each period p and phase
# k — the only transcendentals in the operator, shared bit-for-bit.
_DFT_PHASES: tuple[tuple[int, int, float, float], ...] = tuple(
    (p, k, math.cos(2.0 * math.pi * k / p), math.sin(2.0 * math.pi * k / p))
    for p in _DFT_PERIODS for k in range(p))


def _dft_phase_values_sql() -> str:
    return ",\n    ".join(
        f"({p}, {k}, {c!r}, {s!r})" for p, k, c, s in _DFT_PHASES)


_DFT_ORACLE = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hh,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, epoch_us(ts) // 3600000000
), ph(p, k, c, s) AS (
  VALUES {_dft_phase_values_sql()}
), phased AS (
  -- phase collapse: exact BIGINT cents per (type, period, phase)
  SELECT h.event_type, ph.p, ph.k, ph.c, ph.s,
         CAST(SUM(h.cents) AS BIGINT) AS amp
  FROM hourly h JOIN ph ON (h.hh % ph.p) = ph.k
  GROUP BY h.event_type, ph.p, ph.k, ph.c, ph.s
), folded AS (
  -- per-phase terms quantized to 1e-6 units: cos_k * amp is ONE double
  -- product of bit-identical inputs, its rounding is identical in both
  -- engines, and the cross-phase sum is then an associative BIGINT fold
  SELECT event_type, p,
         CAST(COUNT(*) AS BIGINT) AS n_phases,
         CAST(SUM(CAST(round(c * CAST(amp AS DOUBLE) * 1000000, 0)
                       AS BIGINT)) AS BIGINT) AS aq,
         CAST(SUM(CAST(round(s * CAST(amp AS DOUBLE) * 1000000, 0)
                       AS BIGINT)) AS BIGINT) AS bq
  FROM phased GROUP BY event_type, p
)
SELECT event_type, CAST(p AS BIGINT) AS period_hours, n_phases,
       (CAST(aq AS DOUBLE) / 1000000.0) * (CAST(aq AS DOUBLE) / 1000000.0)
         + (CAST(bq AS DOUBLE) / 1000000.0)
           * (CAST(bq AS DOUBLE) / 1000000.0) AS dft_energy
FROM folded
"""


@register("ts_spectral_dft_energy", oracle=_DFT_ORACLE)
def ts_spectral_dft_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency DFT energy of the hourly revenue series at the
    daily / half-daily / weekly periods — WHICH period carries the
    cycle, the frequency-domain readout next to ts_acf_multi_lag's
    time-domain one (and ts_haar_energy_levels' scale decomposition).
    The key identity makes it portable AND scalable: grouping hours by
    phase first turns Σₜ xₜ·cos(2πt/p) into Σₖ cos_k · (Σ_{{t≡k}} xₜ) —
    the inner sums are EXACT BIGINT cents (combinable), the cos_k/sin_k
    are frozen literals shared by both engines, and each phase term
    cos_k·S_k quantizes to an integer in 1e-6 units (one double product
    of bit-identical inputs, identically rounded) so the ≤168-term
    outer fold is an ASSOCIATIVE BIGINT sum — order-free in Spark and
    engine-portable, no 6 dp tolerance needed (a plain float fold
    diverges in absolute terms at energy ~1e14, measured during
    development — the fixed-point term sum is the correct discipline,
    not rounding).

    Scale shape: one combinable (type, period, phase) fold — the corpus
    collapses to ≤ 5·(24+12+168) rows before any float appears; a
    100 TB series costs exactly one extra map-side pass."""
    ev = load_table(spark, "events", sf_dir)
    cents = round_cents("value")
    hourly = (ev.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                / F.lit(3600000000)).cast("bigint").alias("hh"))
        .agg(F.sum(cents).cast("bigint").alias("cents")))
    ph = spark.createDataFrame(
        list(_DFT_PHASES), "p int, k int, c double, s double")
    phased = (hourly.join(F.broadcast(ph),
                          F.pmod(F.col("hh"), F.col("p")) == F.col("k"))
              .groupBy("event_type", "p", "k", "c", "s")
              .agg(F.sum("cents").cast("bigint").alias("amp")))
    qa = F.round(F.col("c") * F.col("amp").cast("double") * 1000000,
                 0).cast("bigint")
    qb = F.round(F.col("s") * F.col("amp").cast("double") * 1000000,
                 0).cast("bigint")
    folded = (phased.groupBy("event_type", "p")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_phases"),
                   F.sum(qa).cast("bigint").alias("aq"),
                   F.sum(qb).cast("bigint").alias("bq")))
    ad = F.col("aq").cast("double") / F.lit(1000000.0)
    bd = F.col("bq").cast("double") / F.lit(1000000.0)
    return folded.select(
        "event_type", F.col("p").cast("bigint").alias("period_hours"),
        "n_phases", (ad * ad + bd * bd).alias("dft_energy"))


# ---------------------------------------------------------------------------
# MASE forecast evaluation (seasonal-naive baseline)
# ---------------------------------------------------------------------------

_MASE_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hh,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, epoch_us(ts) // 3600000000
), lagged AS (
  SELECT event_type, hh, cents,
         lag(cents, 24) OVER w AS seasonal_naive,
         lag(cents, 1) OVER w AS naive1
  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hh)
), s AS (
  SELECT event_type,
         CAST(COUNT(CASE WHEN seasonal_naive IS NOT NULL
                          AND naive1 IS NOT NULL THEN 1 END) AS BIGINT)
           AS n_eval,
         CAST(SUM(CASE WHEN seasonal_naive IS NOT NULL
                        AND naive1 IS NOT NULL
                       THEN abs(cents - seasonal_naive) END) AS BIGINT)
           AS sae_seasonal,
         CAST(SUM(CASE WHEN seasonal_naive IS NOT NULL
                        AND naive1 IS NOT NULL
                       THEN abs(cents - naive1) END) AS BIGINT)
           AS sae_naive1
  FROM lagged GROUP BY event_type
)
SELECT event_type, n_eval,
       CAST(sae_seasonal AS DOUBLE) / CAST(n_eval AS DOUBLE)
         AS mae_seasonal_cents,
       CAST(sae_seasonal AS DOUBLE) / CAST(sae_naive1 AS DOUBLE) AS mase
FROM s
"""


@register("ts_mase_eval", oracle=_MASE_ORACLE)
def ts_mase_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute SCALED error) of the lag-24 seasonal-naive
    forecast against the lag-1 naive baseline, per event type — the
    scale-free forecast score that completes ts_forecast_eval_wape
    (percent scale) and ts_pinball_loss_eval (quantile loss): MASE < 1
    means the seasonal forecast beats naive persistence, comparable
    ACROSS series of different magnitudes. Both error sums are exact
    BIGINT cents over the SAME evaluable rows (both lags present); one
    division each for MAE and MASE.

    Scale shape: calendar-bounded hourly fold; two lags off ONE
    type-partitioned window pass; one combinable three-sum fold."""
    ev = load_table(spark, "events", sf_dir)
    cents = round_cents("value")
    hourly = (ev.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                / F.lit(3600000000)).cast("bigint").alias("hh"))
        .agg(F.sum(cents).cast("bigint").alias("cents")))
    w = Window.partitionBy("event_type").orderBy("hh")
    lagged = hourly.select(
        "event_type", "cents",
        F.lag("cents", 24).over(w).alias("sn"),
        F.lag("cents", 1).over(w).alias("n1"))
    ok = F.col("sn").isNotNull() & F.col("n1").isNotNull()
    s = lagged.groupBy("event_type").agg(
        F.count(F.when(ok, 1)).cast("bigint").alias("n_eval"),
        F.sum(F.when(ok, F.abs(F.col("cents") - F.col("sn"))))
        .cast("bigint").alias("sae_seasonal"),
        F.sum(F.when(ok, F.abs(F.col("cents") - F.col("n1"))))
        .cast("bigint").alias("sae_naive1"))
    return s.select(
        "event_type", "n_eval",
        (F.col("sae_seasonal").cast("double")
         / F.col("n_eval").cast("double")).alias("mae_seasonal_cents"),
        (F.col("sae_seasonal").cast("double")
         / F.col("sae_naive1").cast("double")).alias("mase"))


# ---------------------------------------------------------------------------
# Bollinger bands on the daily revenue series
# ---------------------------------------------------------------------------

_BOLL_W = 7

_BOLL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')
), rolled AS (
  SELECT event_type, day, cents,
         CAST(SUM(cents) OVER w AS BIGINT) AS s1,
         CAST(SUM(cents * cents) OVER w AS BIGINT) AS s2,
         CAST(COUNT(*) OVER w AS BIGINT) AS m
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {_BOLL_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, cents, m AS window_days,
       CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE) AS band_mid,
       CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)
         + 2.0 * sqrt(CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE)
                      - (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)))
         AS band_hi,
       CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)
         - 2.0 * sqrt(CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE)
                      - (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)))
         AS band_lo,
       CAST(cents AS DOUBLE)
         > CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)
           + 2.0 * sqrt(CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)))
         AS breakout_hi
FROM rolled WHERE m = {_BOLL_W}
"""


@register("ts_bollinger_bands", oracle=_BOLL_ORACLE)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (7-day rolling mean ± 2 population σ) on the
    daily revenue series per event type, with the high-side breakout
    flag — the mean-reversion envelope next to ts_anomaly_zscore's
    global-σ flags (a rolling band adapts to regime shifts; a global
    band doesn't). Both rolling power sums are exact BIGINT cents off
    ONE window pass; mid/hi/lo assemble in an identical tree (sqrt
    only); partial leading windows are excluded so every band is a
    full-width estimate.

    Scale shape: calendar-bounded daily fold; one type-partitioned
    ROWS-frame window pass serves count and both sums."""
    ev = load_table(spark, "events", sf_dir)
    cents = round_cents("value")
    daily = (ev.groupBy("event_type",
                        F.date_format("ts", "yyyy-MM-dd").alias("day"))
             .agg(F.sum(cents).cast("bigint").alias("cents")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-(_BOLL_W - 1), Window.currentRow))
    rolled = daily.select(
        "event_type", "day", "cents",
        F.sum("cents").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(w).cast("bigint")
        .alias("s2"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("m"))
    md = F.col("m").cast("double")
    mid = F.col("s1").cast("double") / md
    sd = F.sqrt(F.col("s2").cast("double") / md - mid * mid)
    hi = mid + F.lit(2.0) * sd
    lo = mid - F.lit(2.0) * sd
    return (rolled.where(F.col("m") == _BOLL_W)
            .select("event_type", "day", "cents",
                    F.col("m").alias("window_days"),
                    mid.alias("band_mid"), hi.alias("band_hi"),
                    lo.alias("band_lo"),
                    (F.col("cents").cast("double") > hi)
                    .alias("breakout_hi")))


# ---------------------------------------------------------------------------
# single-changepoint localization by |CUSUM| argmax
# ---------------------------------------------------------------------------

_CUSUM_ARGMAX_ORACLE = """
WITH d AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), t AS (
  SELECT day, y,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t_idx,
         CAST(SUM(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cy
  FROM d
), g AS (
  SELECT t.*, (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n,
         (SELECT CAST(SUM(y) AS BIGINT) FROM d) AS sy
  FROM t
), s AS (
  SELECT day, t_idx, n,
         abs(n * cy - t_idx * sy) AS cusum_abs,
         CAST(cy AS DOUBLE) / CAST(t_idx AS DOUBLE) / 100.0 AS mb,
         CASE WHEN t_idx = n THEN NULL
              ELSE CAST(sy - cy AS DOUBLE)
                   / CAST(n - t_idx AS DOUBLE) / 100.0 END AS ma
  FROM g
)
SELECT day AS change_day, t_idx, n AS n_days, cusum_abs,
       round(mb, 6) AS mean_before, round(ma, 6) AS mean_after
FROM s
ORDER BY cusum_abs DESC, day
LIMIT 1
"""


@register("ts_changepoint_cusum_argmax", oracle=_CUSUM_ARGMAX_ORACLE)
def ts_changepoint_cusum_argmax(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Single-changepoint LOCALIZATION on daily purchase revenue: the
    day t maximizing |CUSUM_t| (binary-segmentation's first split) —
    the where-did-it-move answer after ts_cusum_drift's something-moved
    alarm. The statistic is kept in EXACT cross-multiplied integers:
    |n·Σ_{≤t}y − t·Σy| (BIGINT; ≤ 366·corpus-cents, overflow-safe),
    so the argmax is bit-deterministic with the earliest-day
    tie-break, and the before/after means are single double trees.

    Scale shape: calendar-bounded daily fold (≤366 rows/year at ANY
    corpus size); one cumulative window over the bounded domain; a
    broadcast 1-row total; argmax fuses to TakeOrderedAndProject."""
    ev = (load_table(spark, "events", sf_dir)
          .where(F.col("event_type") == "purchase"))
    cents = round_cents("value")
    d = (ev.select(F.date_trunc("day", F.col("ts")).alias("day"),
                   cents.alias("c"))
         .groupBy("day")
         .agg(F.sum("c").cast("bigint").alias("y")))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t = d.select("day", "y",
                 F.row_number().over(Window.orderBy("day"))
                 .cast("bigint").alias("t_idx"),
                 F.sum("y").over(w).cast("bigint").alias("cy"))
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("y").cast("bigint").alias("sy"))
    g = t.crossJoin(F.broadcast(tot))
    mb = F.col("cy").cast("double") / F.col("t_idx").cast("double") / 100.0
    ma = F.when(F.col("t_idx") == F.col("n"), F.lit(None).cast("double")) \
          .otherwise((F.col("sy") - F.col("cy")).cast("double")
                     / (F.col("n") - F.col("t_idx")).cast("double") / 100.0)
    s = g.select(
        F.col("day").alias("change_day"), "t_idx",
        F.col("n").alias("n_days"),
        F.abs(F.col("n") * F.col("cy") - F.col("t_idx") * F.col("sy"))
        .alias("cusum_abs"),
        F.round(mb, 6).alias("mean_before"),
        F.round(ma, 6).alias("mean_after"))
    return s.orderBy(F.col("cusum_abs").desc(), "change_day").limit(1)


# ---------------------------------------------------------------------------
# Hurst exponent by rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------

# frozen centered ln(w) regressors for the 3-point log-log fit:
# cx_i = ln(w_i) - mean(ln(w)), sxx = sum(cx_i^2). H = sum(cx_i * y_i)/sxx
# with y_i = ln(RS_mean(w_i)) -- the transcendental regressors are
# literals, so the fit is a fixed 3-term tree in both engines.
_HURST_CX30 = -0.693147180559945
_HURST_CX60 = 0.0
_HURST_CX120 = 0.6931471805599454
_HURST_SXX = 0.9609060278364026

_HURST_ORACLE = f"""
WITH d AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), t AS (
  SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t_idx,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n
  FROM d
), sizes AS (
  SELECT CAST(unnest([30, 60, 120]) AS BIGINT) AS w
), blk AS (
  SELECT w, (t_idx - 1) // w AS block, (t_idx - 1) % w AS pos, y, n
  FROM t CROSS JOIN sizes
  WHERE t_idx <= (n // w) * w
), cum AS (
  SELECT w, block, pos, y,
         CAST(SUM(y) OVER (PARTITION BY w, block ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cy,
         CAST(SUM(y) OVER (PARTITION BY w, block) AS BIGINT) AS s1,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y)
              OVER (PARTITION BY w, block) AS DECIMAL(38,0)) AS s2
  FROM blk
), dev AS (
  SELECT w, block, s1, s2,
         w * cy - (pos + 1) * s1 AS dv
  FROM cum
), per_block AS (
  SELECT w, block,
         CAST(round((CAST(MAX(dv) - MIN(dv) AS DOUBLE)
                     / (CAST(MAX(w) AS DOUBLE)
                        * sqrt((CAST(MAX(s2) AS DOUBLE)
                                - CAST(MAX(s1) AS DOUBLE)
                                  * CAST(MAX(s1) AS DOUBLE)
                                  / CAST(MAX(w) AS DOUBLE))
                               / CAST(MAX(w) AS DOUBLE))))
                    * 1000000.0, 0) AS BIGINT) AS rs_q
  FROM dev GROUP BY w, block
), per_w AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         round(CAST(SUM(rs_q) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS rs_mean
  FROM per_block GROUP BY w
)
SELECT (SELECT MAX(n) FROM t) AS n_days,
       MAX(CASE WHEN w = 30 THEN rs_mean END) AS rs_w30,
       MAX(CASE WHEN w = 60 THEN rs_mean END) AS rs_w60,
       MAX(CASE WHEN w = 120 THEN rs_mean END) AS rs_w120,
       round(({_HURST_CX30!r} * ln(MAX(CASE WHEN w = 30 THEN rs_mean END))
              + {_HURST_CX60!r} * ln(MAX(CASE WHEN w = 60 THEN rs_mean END))
              + {_HURST_CX120!r}
                * ln(MAX(CASE WHEN w = 120 THEN rs_mean END)))
             / {_HURST_SXX!r}, 6) AS hurst_exponent
FROM per_w
"""


@register("ts_hurst_rs", oracle=_HURST_ORACLE)
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily purchase revenue by classical rescaled-
    range (R/S) analysis at block sizes 30/60/120 days: H ≈ 0.5 means a
    memoryless walk, H > 0.5 long-range persistence (trends compound),
    H < 0.5 mean reversion — the long-memory diagnostic next to the
    short-lag views (ts_acf_multi_lag, ts_burstiness_fano). Per block,
    the cumulative deviation is kept in EXACT cross-multiplied integers
    (w·Σ_{{≤t}}y − t·Σy, BIGINT), so range R comes off an integer
    max−min; each block's R/S is one identical double tree quantized to
    1e-6 integers, the per-size mean an associative integer fold; the
    log-log slope uses FROZEN centered-ln(w) regressors, making the fit
    a fixed 3-term expression.

    Scale shape: calendar-bounded daily fold (≤366 rows at ANY corpus
    size); the ×3 size fan-out, block windows, and folds all run on the
    bounded domain — corpus cost is the one daily collapse."""
    ev = (load_table(spark, "events", sf_dir)
          .where(F.col("event_type") == "purchase"))
    cents = round_cents("value")
    d = (ev.select(F.date_trunc("day", F.col("ts")).alias("day"),
                   cents.alias("c"))
         .groupBy("day")
         .agg(F.sum("c").cast("bigint").alias("y"))
         # the ≤366-row daily fold feeds both the n1 scalar and the
         # indexed series — pin it so the events scan runs once per query
         .localCheckpoint(eager=False))
    n1 = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = (d.select("y", F.row_number().over(Window.orderBy("day"))
                  .cast("bigint").alias("t_idx"))
         .crossJoin(F.broadcast(n1)))
    sizes = spark.createDataFrame([(30,), (60,), (120,)], "w bigint")
    blk = (t.crossJoin(F.broadcast(sizes))
           .where(F.col("t_idx")
                  <= (F.col("n") / F.col("w")).cast("bigint") * F.col("w"))
           .select("w",
                   ((F.col("t_idx") - 1) / F.col("w")).cast("bigint")
                   .alias("block"),
                   ((F.col("t_idx") - 1) % F.col("w")).alias("pos"),
                   "y", "n"))
    wo = (Window.partitionBy("w", "block").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wb = Window.partitionBy("w", "block")
    cum = blk.select(
        "w", "block", "pos", "y",
        F.sum("y").over(wo).cast("bigint").alias("cy"),
        F.sum("y").over(wb).cast("bigint").alias("s1"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).over(wb)
        .cast("decimal(38,0)").alias("s2"))
    dev = cum.select(
        "w", "block", "s1", "s2",
        (F.col("w") * F.col("cy") - (F.col("pos") + 1) * F.col("s1"))
        .alias("dv"))
    wd = F.col("wm").cast("double")
    per_block = (dev.groupBy("w", "block")
                 .agg(F.max("dv").alias("mx"), F.min("dv").alias("mn"),
                      F.max("s1").alias("s1m"), F.max("s2").alias("s2m"),
                      F.max("w").alias("wm"))
                 .select("w",
                         F.round(((F.col("mx") - F.col("mn")).cast("double")
                                  / (wd * F.sqrt(
                                      (F.col("s2m").cast("double")
                                       - F.col("s1m").cast("double")
                                         * F.col("s1m").cast("double") / wd)
                                      / wd))) * 1000000.0, 0)
                         .cast("bigint").alias("rs_q")))
    per_w = (per_block.groupBy("w")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
                  F.round(F.sum("rs_q").cast("double")
                          / F.count(F.lit(1)).cast("double")
                          / 1000000.0, 6).alias("rs_mean")))

    def at(w: int):
        return F.max(F.when(F.col("w") == w, F.col("rs_mean")))

    hurst = ((F.lit(_HURST_CX30) * F.log(at(30))
              + F.lit(_HURST_CX60) * F.log(at(60))
              + F.lit(_HURST_CX120) * F.log(at(120))) / F.lit(_HURST_SXX))
    return (per_w.crossJoin(F.broadcast(n1))
            .agg(F.max("n").alias("n_days"),
                 at(30).alias("rs_w30"), at(60).alias("rs_w60"),
                 at(120).alias("rs_w120"),
                 F.round(hurst, 6).alias("hurst_exponent")))


# ---------------------------------------------------------------------------
# Dickey-Fuller unit-root test (constant, no trend; asymptotic 5%)
# ---------------------------------------------------------------------------

# asymptotic 5% critical value of the constant-only DF tau distribution
_DF_TAU_95 = -2.86

_DF_ORACLE = f"""
WITH d AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), p AS (
  SELECT y - lag(y) OVER (ORDER BY day) AS dy,
         lag(y) OVER (ORDER BY day) AS x
  FROM d
), q AS (
  SELECT dy, x FROM p WHERE x IS NOT NULL
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sdy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0)) AS sxdy
  FROM q
), co AS (
  SELECT n, sx, sxx,
         (CAST(n AS DOUBLE) * CAST(sxdy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sdy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS g,
         CAST(sdy AS DOUBLE) / CAST(n AS DOUBLE)
         - ((CAST(n AS DOUBLE) * CAST(sxdy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sdy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS al
  FROM s
), r AS (
  SELECT co.n, co.sx, co.sxx, co.g,
         CAST(SUM(CAST(CAST(round(CAST(q.dy AS DOUBLE) - co.al
                                  - co.g * CAST(q.x AS DOUBLE), 0)
                            AS BIGINT) AS DECIMAL(38,0))
                  * CAST(round(CAST(q.dy AS DOUBLE) - co.al
                               - co.g * CAST(q.x AS DOUBLE), 0)
                         AS BIGINT)) AS DECIMAL(38,0)) AS sse
  FROM q CROSS JOIN co
  GROUP BY co.n, co.sx, co.sxx, co.g
)
SELECT n AS n_obs, round(g, 6) AS gamma,
       round(g / sqrt((CAST(sse AS DOUBLE) / CAST(n - 2 AS DOUBLE))
                      * CAST(n AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 6)
         AS df_tstat,
       g / sqrt((CAST(sse AS DOUBLE) / CAST(n - 2 AS DOUBLE))
                * CAST(n AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
       < {_DF_TAU_95!r} AS reject_unit_root
FROM r
"""


@register("ts_dickey_fuller_unit_root", oracle=_DF_ORACLE)
def ts_dickey_fuller_unit_root(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Dickey–Fuller unit-root test (constant, no trend) on daily
    purchase revenue: regress Δyₜ on yₜ₋₁ and read γ̂'s t-ratio against
    the FROZEN asymptotic 5%% τ point (−2.86; τ is NOT Student-t, which
    is why the threshold must be a DF-table literal) — the
    is-this-series-mean-reverting gate run before trusting any
    trend/forecast op's extrapolation (a unit root means shocks are
    permanent). All regression inputs are exact BIGINT/decimal(38,0)
    sums over the calendar-bounded daily domain; residuals quantize to
    whole cents so SSE is an exact integer fold.

    Scale shape: ≤366-row daily fold, one lag window on the bounded
    domain, one broadcast coefficient row, one residual fold."""
    ev = (load_table(spark, "events", sf_dir)
          .where(F.col("event_type") == "purchase"))
    cents = round_cents("value")
    d = (ev.select(F.date_trunc("day", F.col("ts")).alias("day"),
                   cents.alias("c"))
         .groupBy("day")
         .agg(F.sum("c").cast("bigint").alias("y")))
    w = Window.orderBy("day")
    q = (d.select((F.col("y") - F.lag("y").over(w)).alias("dy"),
                  F.lag("y").over(w).alias("x"))
         .where(F.col("x").isNotNull()))
    s = q.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("x").cast("bigint").alias("sx"),
              F.sum("dy").cast("bigint").alias("sdy"),
              F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
              .cast("decimal(38,0)").alias("sxx"),
              F.sum(F.col("x").cast("decimal(38,0)") * F.col("dy"))
              .cast("decimal(38,0)").alias("sxdy"))
    nd = F.col("n").cast("double")
    g = ((nd * F.col("sxdy").cast("double")
          - F.col("sx").cast("double") * F.col("sdy").cast("double"))
         / (nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")))
    al = (F.col("sdy").cast("double") / nd
          - g * F.col("sx").cast("double") / nd)
    co = s.select("n", "sx", "sxx", g.alias("g"), al.alias("al"))
    ehat = F.round(F.col("dy").cast("double") - F.col("al")
                   - F.col("g") * F.col("x").cast("double"), 0) \
        .cast("bigint")
    r = (q.crossJoin(F.broadcast(co))
         .groupBy("n", "sx", "sxx", "g")
         .agg(F.sum(ehat.cast("decimal(38,0)") * ehat)
              .cast("decimal(38,0)").alias("sse")))
    nd2 = F.col("n").cast("double")
    se = F.sqrt((F.col("sse").cast("double")
                 / (F.col("n") - 2).cast("double")) * nd2
                / (nd2 * F.col("sxx").cast("double")
                   - F.col("sx").cast("double")
                     * F.col("sx").cast("double")))
    t = F.col("g") / se
    return r.select(F.col("n").alias("n_obs"),
                    F.round(F.col("g"), 6).alias("gamma"),
                    F.round(t, 6).alias("df_tstat"),
                    (t < F.lit(_DF_TAU_95)).alias("reject_unit_root"))


# ---------------------------------------------------------------------------
# Granger causality (lag-1) between click and purchase revenue
# ---------------------------------------------------------------------------

# asymptotic F(1, inf) = chi-square(1) upper 5% point, frozen
_GRANGER_F_95 = 3.841458820694124

_GRANGER_ORACLE = f"""
WITH d AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS p,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS c
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
), l AS (
  SELECT p AS y,
         lag(p) OVER (ORDER BY day) AS x1,
         lag(c) OVER (ORDER BY day) AS x2
  FROM d
), q AS (
  SELECT y, x1, x2 FROM l WHERE x1 IS NOT NULL
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS DECIMAL(38,0)) AS s11,
         CAST(SUM(CAST(x2 AS DECIMAL(38,0)) * x2) AS DECIMAL(38,0)) AS s22,
         CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x2) AS DECIMAL(38,0)) AS s12,
         CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS s1y,
         CAST(SUM(CAST(x2 AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS s2y
  FROM q
), m AS (
  -- centered normal equations, every input exact; doubles only here
  SELECT n, sy, s1, s2,
         CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS a11,
         CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
           - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS a22,
         CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) AS a12,
         CAST(n AS DOUBLE) * CAST(s1y AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) AS b1,
         CAST(n AS DOUBLE) * CAST(s2y AS DOUBLE)
           - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) AS b2
  FROM s
), co AS (
  SELECT n, sy, s1, s2, a11, b1,
         (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS bu1,
         (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS bu2,
         b1 / a11 AS br1
  FROM m
), fit AS (
  SELECT co.n, co.bu1, co.bu2, co.br1,
         (CAST(co.sy AS DOUBLE) - co.bu1 * CAST(co.s1 AS DOUBLE)
          - co.bu2 * CAST(co.s2 AS DOUBLE)) / CAST(co.n AS DOUBLE) AS au,
         (CAST(co.sy AS DOUBLE) - co.br1 * CAST(co.s1 AS DOUBLE))
           / CAST(co.n AS DOUBLE) AS ar
  FROM co
), r AS (
  SELECT fit.n, fit.bu1, fit.bu2,
         CAST(SUM(CAST(CAST(round(CAST(q.y AS DOUBLE) - fit.au
                                  - fit.bu1 * CAST(q.x1 AS DOUBLE)
                                  - fit.bu2 * CAST(q.x2 AS DOUBLE), 0)
                            AS BIGINT) AS DECIMAL(38,0))
                  * CAST(round(CAST(q.y AS DOUBLE) - fit.au
                               - fit.bu1 * CAST(q.x1 AS DOUBLE)
                               - fit.bu2 * CAST(q.x2 AS DOUBLE), 0)
                         AS BIGINT)) AS DECIMAL(38,0)) AS sse_u,
         CAST(SUM(CAST(CAST(round(CAST(q.y AS DOUBLE) - fit.ar
                                  - fit.br1 * CAST(q.x1 AS DOUBLE), 0)
                            AS BIGINT) AS DECIMAL(38,0))
                  * CAST(round(CAST(q.y AS DOUBLE) - fit.ar
                               - fit.br1 * CAST(q.x1 AS DOUBLE), 0)
                         AS BIGINT)) AS DECIMAL(38,0)) AS sse_r
  FROM q CROSS JOIN fit
  GROUP BY fit.n, fit.bu1, fit.bu2
)
SELECT n AS n_obs,
       round(bu1, 6) AS own_lag_coef,
       round(bu2, 6) AS click_lag_coef,
       round((CAST(sse_r AS DOUBLE) - CAST(sse_u AS DOUBLE))
             / (CAST(sse_u AS DOUBLE) / CAST(n - 3 AS DOUBLE)), 6)
         AS f_stat,
       (CAST(sse_r AS DOUBLE) - CAST(sse_u AS DOUBLE))
         / (CAST(sse_u AS DOUBLE) / CAST(n - 3 AS DOUBLE))
         > {_GRANGER_F_95!r} AS clicks_granger_cause_purchases
FROM r
"""


@register("ts_granger_lag1", oracle=_GRANGER_ORACLE)
def ts_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality: do yesterday's CLICK cents help predict
    today's PURCHASE cents beyond purchases' own lag? F-test of the
    restricted (own-lag-only) vs unrestricted (+ click lag) regression
    — the predictive-precedence readout behind ts_xcorr_lead_lag's
    descriptive correlations. The 2-regressor OLS is solved in CLOSED
    FORM from centered normal equations whose inputs are all exact
    BIGINT/decimal(38,0) sums over the calendar-bounded daily domain;
    both models' residuals quantize to whole cents so the two SSEs are
    exact integer folds; the F decision uses the frozen asymptotic
    F(1,∞)=χ²₁ 5%% point (documented large-n choice).

    Scale shape: one daily two-series fold (≤366 rows at any corpus
    size), one lag window on the bounded domain, one broadcast
    coefficient row, one residual fold."""
    ev = click_purchase_events(spark, sf_dir)
    cents = round_cents("value")
    d = (ev.select(F.date_trunc("day", F.col("ts")).alias("day"),
                   F.when(F.col("event_type") == "purchase", cents)
                   .otherwise(F.lit(0)).alias("pc"),
                   F.when(F.col("event_type") == "click", cents)
                   .otherwise(F.lit(0)).alias("cc"))
         .groupBy("day")
         .agg(F.sum("pc").cast("bigint").alias("p"),
              F.sum("cc").cast("bigint").alias("c")))
    w = Window.orderBy("day")
    q = (d.select(F.col("p").alias("y"),
                  F.lag("p").over(w).alias("x1"),
                  F.lag("c").over(w).alias("x2"))
         .where(F.col("x1").isNotNull()))
    dec = lambda col: F.col(col).cast("decimal(38,0)")
    s = q.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("y").cast("bigint").alias("sy"),
              F.sum("x1").cast("bigint").alias("s1"),
              F.sum("x2").cast("bigint").alias("s2"),
              F.sum(dec("x1") * F.col("x1")).cast("decimal(38,0)")
              .alias("s11"),
              F.sum(dec("x2") * F.col("x2")).cast("decimal(38,0)")
              .alias("s22"),
              F.sum(dec("x1") * F.col("x2")).cast("decimal(38,0)")
              .alias("s12"),
              F.sum(dec("x1") * F.col("y")).cast("decimal(38,0)")
              .alias("s1y"),
              F.sum(dec("x2") * F.col("y")).cast("decimal(38,0)")
              .alias("s2y"))
    nd = F.col("n").cast("double")
    dbl = lambda col: F.col(col).cast("double")
    a11 = nd * dbl("s11") - dbl("s1") * dbl("s1")
    a22 = nd * dbl("s22") - dbl("s2") * dbl("s2")
    a12 = nd * dbl("s12") - dbl("s1") * dbl("s2")
    b1 = nd * dbl("s1y") - dbl("s1") * dbl("sy")
    b2 = nd * dbl("s2y") - dbl("s2") * dbl("sy")
    det = a11 * a22 - a12 * a12
    bu1 = (b1 * a22 - b2 * a12) / det
    bu2 = (a11 * b2 - a12 * b1) / det
    br1 = b1 / a11
    au = (dbl("sy") - bu1 * dbl("s1") - bu2 * dbl("s2")) / nd
    ar = (dbl("sy") - br1 * dbl("s1")) / nd
    co = s.select("n", bu1.alias("bu1"), bu2.alias("bu2"),
                  br1.alias("br1"), au.alias("au"), ar.alias("ar"))
    eu = F.round(F.col("y").cast("double") - F.col("au")
                 - F.col("bu1") * F.col("x1").cast("double")
                 - F.col("bu2") * F.col("x2").cast("double"), 0) \
        .cast("bigint")
    er = F.round(F.col("y").cast("double") - F.col("ar")
                 - F.col("br1") * F.col("x1").cast("double"), 0) \
        .cast("bigint")
    r = (q.crossJoin(F.broadcast(co))
         .groupBy("n", "bu1", "bu2")
         .agg(F.sum(eu.cast("decimal(38,0)") * eu)
              .cast("decimal(38,0)").alias("sse_u"),
              F.sum(er.cast("decimal(38,0)") * er)
              .cast("decimal(38,0)").alias("sse_r")))
    f = ((F.col("sse_r").cast("double") - F.col("sse_u").cast("double"))
         / (F.col("sse_u").cast("double")
            / (F.col("n") - 3).cast("double")))
    return r.select(
        F.col("n").alias("n_obs"),
        F.round(F.col("bu1"), 6).alias("own_lag_coef"),
        F.round(F.col("bu2"), 6).alias("click_lag_coef"),
        F.round(f, 6).alias("f_stat"),
        (f > F.lit(_GRANGER_F_95)).alias("clicks_granger_cause_purchases"))


# ---------------------------------------------------------------------------
# turning-point test of randomness
# ---------------------------------------------------------------------------

_TURNING_ORACLE = """
WITH d AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), t AS (
  SELECT y,
         lag(y) OVER (ORDER BY day) AS p,
         lead(y) OVER (ORDER BY day) AS nx
  FROM d
), s AS (
  SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE (p < y AND y > nx)
                                  OR (p > y AND y < nx)) AS BIGINT) AS tp
  FROM t WHERE p IS NOT NULL AND nx IS NOT NULL
)
SELECT n AS n_days, tp AS n_turning_points,
       round(2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0, 6) AS expected_tp,
       round((CAST(tp AS DOUBLE)
              - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
             / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0), 6)
         AS z_stat
FROM s
"""


@register("ts_turning_points_test", oracle=_TURNING_ORACLE)
def ts_turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test of randomness on daily purchase revenue: count
    strict local peaks and troughs, compare to the i.i.d. expectation
    2(n−2)/3 with variance (16n−29)/90 — the oscillation-grain
    randomness check beside stat_runs_test_wald_wolfowitz's
    above/below-median runs (turning points see short-period
    oscillation; runs see level persistence). The count is an exact
    integer off one lag/lead window over the calendar-bounded domain;
    the z is a single identical tree.

    Scale shape: ≤366-row daily fold; one bounded-domain window; one
    two-count fold to a single row."""
    ev = (load_table(spark, "events", sf_dir)
          .where(F.col("event_type") == "purchase"))
    cents = round_cents("value")
    d = (ev.select(F.date_trunc("day", F.col("ts")).alias("day"),
                   cents.alias("c"))
         .groupBy("day")
         .agg(F.sum("c").cast("bigint").alias("y")))
    w = Window.orderBy("day")
    t = d.select("y", F.lag("y").over(w).alias("p"),
                 F.lead("y").over(w).alias("nx"))
    nrow = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    turn = ((F.col("p") < F.col("y")) & (F.col("y") > F.col("nx"))) | \
           ((F.col("p") > F.col("y")) & (F.col("y") < F.col("nx")))
    s = (t.where(F.col("p").isNotNull() & F.col("nx").isNotNull())
         .agg(F.count(F.when(turn, 1)).cast("bigint").alias("tp"))
         .crossJoin(F.broadcast(nrow)))
    nd = F.col("n").cast("double")
    exp_tp = 2.0 * (nd - 2.0) / 3.0
    return s.select(
        F.col("n").alias("n_days"),
        F.col("tp").alias("n_turning_points"),
        F.round(exp_tp, 6).alias("expected_tp"),
        F.round((F.col("tp").cast("double") - exp_tp)
                / F.sqrt((16.0 * nd - 29.0) / 90.0), 6).alias("z_stat"))


_GAPFILL_ORACLE = f"""
WITH days AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-29',
                                     INTERVAL 1 DAY)) AS DATE) AS day
), daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
         {oracle_csum('value')} AS sum_value
  FROM events GROUP BY CAST(ts AS DATE)
)
SELECT CAST(days.day AS VARCHAR) AS day,
       COALESCE(daily.n_events, 0) AS n_events,
       COALESCE(daily.sum_value, 0.0) AS sum_value
FROM days LEFT JOIN daily ON days.day = daily.day
"""


@register("ts_resample_gapfill", oracle=_GAPFILL_ORACLE)
def ts_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to daily grain with gap fill: calendar spine
    (sequence) LEFT JOIN daily aggregates, zeros for missing days. The
    spine is generated, not scanned — no shuffle for it; broadcast join."""
    ev = load_table(spark, "events", sf_dir)
    spine = spark.range(1).select(F.explode(F.sequence(
        F.lit("2024-01-01").cast("date"), F.lit("2024-01-29").cast("date"),
        F.expr("INTERVAL 1 DAY"))).alias("day"))
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n_events"),
                  csum("value").alias("sum_value")))
    return (
        spine.join(daily, "day", "left")
        .select(F.col("day").cast("string").alias("day"),
                F.coalesce("n_events", F.lit(0)).alias("n_events"),
                F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"))
    )


_MOVAVG_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(round(value * 100, 0) AS BIGINT)) AS cents
  FROM events GROUP BY CAST(ts AS DATE)
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(SUM(cents) OVER w AS DOUBLE) / 100.0 AS sum_7d,
       CAST(SUM(cents) OVER w AS DOUBLE) / 100.0 / COUNT(*) OVER w AS avg_7d
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@register("ts_moving_avg", oracle=_MOVAVG_ORACLE)
def ts_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing sum/average of daily event value — integer-cents in
    the window frame, so the moving sums are exact at any frame position."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(iround(F.col("value") * 100)).alias("cents"))
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    mov_cents = F.sum("cents").over(w).cast("double") / 100.0
    return daily.select(
        F.col("day").cast("string").alias("day"),
        mov_cents.alias("sum_7d"),
        (mov_cents / F.count(F.lit(1)).over(w)).alias("avg_7d"),
    )


_INTERP_ORACLE = """
WITH spine AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-29',
                                     INTERVAL 1 DAY)) AS DATE) AS day
), known AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE EXTRACT(day FROM CAST(ts AS DATE)) % 3 <> 0
  GROUP BY CAST(ts AS DATE)
), marked AS (
  SELECT spine.day, known.cents,
         CAST(datediff('day', DATE '2024-01-01', spine.day) AS BIGINT) AS dn,
         CASE WHEN known.cents IS NOT NULL
              THEN CAST(datediff('day', DATE '2024-01-01', spine.day) AS BIGINT)
         END AS dnk
  FROM spine LEFT JOIN known ON spine.day = known.day
), bounds AS (
  SELECT day, cents, dn,
         last_value(cents IGNORE NULLS) OVER
           (ORDER BY dn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS pv,
         last_value(dnk IGNORE NULLS) OVER
           (ORDER BY dn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS pd,
         first_value(cents IGNORE NULLS) OVER
           (ORDER BY dn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS nv,
         first_value(dnk IGNORE NULLS) OVER
           (ORDER BY dn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS nd
  FROM marked
)
SELECT CAST(day AS VARCHAR) AS day,
       cents IS NOT NULL AS observed,
       round(CASE
         WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
         WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
         WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
         ELSE pv + CAST((nv - pv) * (dn - pd) AS DOUBLE) / (nd - pd)
       END / 100.0, 6) AS value_interp
FROM bounds
"""


@register("ts_interpolate_linear", oracle=_INTERP_ORACLE)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over time-series gaps: days divisible by 3 are
    withheld as 'missing', then reconstructed from the neighboring known
    points (flat extrapolation at the edges) — the imputation step between
    zero-fill (ts_resample_gapfill) and a model. Known values are exact
    int cents, the interpolation ratio is an integer-over-integer double,
    rounded 6 dp.

    Scale shape: the forward/backward scans are two frames over ONE
    date-ordered window; at 100 TB the series would partition by entity
    (per-metric, per-device) exactly like win_range_interval — the global
    order here exists only because a calendar spine is 29 rows."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    spine = spark.range(1).select(F.explode(F.sequence(
        F.lit("2024-01-01").cast("date"), F.lit("2024-01-29").cast("date"),
        F.expr("INTERVAL 1 DAY"))).alias("day"))
    known = (ev.where(F.dayofmonth(F.to_date("ts")) % 3 != 0)
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(iround(F.col("value") * 100))
                  .cast("bigint").alias("cents")))
    marked = (spine.join(known, "day", "left")
              .withColumn("dn", F.datediff("day", F.lit("2024-01-01"))
                          .cast("bigint")))
    dn_if_known = F.when(F.col("cents").isNotNull(), F.col("dn"))
    w_prev = Window.orderBy("dn").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("dn").rowsBetween(0, Window.unboundedFollowing)
    b = marked.select(
        "day", "cents", "dn",
        F.last("cents", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(dn_if_known, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("cents", ignorenulls=True).over(w_next).alias("nv"),
        F.first(dn_if_known, ignorenulls=True).over(w_next).alias("nd"),
    )
    interp = (F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
              .when(F.col("pv").isNull(), F.col("nv").cast("double"))
              .when(F.col("nv").isNull(), F.col("pv").cast("double"))
              .otherwise(F.col("pv") + ((F.col("nv") - F.col("pv"))
                         * (F.col("dn") - F.col("pd"))).cast("double")
                         / (F.col("nd") - F.col("pd"))))
    return b.select(
        F.col("day").cast("string").alias("day"),
        F.col("cents").isNotNull().alias("observed"),
        F.round(interp / 100.0, 6).alias("value_interp"),
    )


_OHLC_ORACLE = """
SELECT event_type,
       CAST(time_bucket(INTERVAL 6 HOURS, ts) AS VARCHAR) AS bucket,
       round(arg_min(value, ts + INTERVAL (event_id % 1000000) MICROSECONDS), 6) AS open,
       round(MAX(value), 6) AS high,
       round(MIN(value), 6) AS low,
       round(arg_max(value, ts + INTERVAL (event_id % 1000000) MICROSECONDS), 6) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type, time_bucket(INTERVAL 6 HOURS, ts)
"""


@register("ts_ohlc_resample", oracle=_OHLC_ORACLE)
def ts_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (open/high/low/close) resampling per (series, 6-hour bucket) —
    the canonical financial/metrics downsample. open/close are
    ``min_by``/``max_by`` on a TOTAL order (ts is not unique per type at
    µs grain, so the order key is ts perturbed by event_id micros — the
    same tie-pinning discipline as agg_minmax_by; both engines use the
    identical composite key, making first/last deterministic instead of
    arrival-order luck). Single map-side-combinable groupBy: min_by/
    max_by carry one (key, value) pair of state per group, so the shape
    is one shuffle of 4-tuples regardless of corpus size."""
    ev = load_table(spark, "events", sf_dir)
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / (6 * 3600)).cast("bigint") * (6 * 3600))
    order_key = F.timestamp_micros(
        F.unix_micros("ts") + F.col("event_id") % 1_000_000)
    return (
        ev.select("event_type", bucket.alias("bucket"), "value",
                  order_key.alias("ok"))
        .groupBy("event_type", "bucket")
        .agg(F.round(F.min_by("value", "ok"), 6).alias("open"),
             F.round(F.max("value"), 6).alias("high"),
             F.round(F.min("value"), 6).alias("low"),
             F.round(F.max_by("value", "ok"), 6).alias("close"),
             F.count(F.lit(1)).alias("n_events"))
        .withColumn("bucket", F.col("bucket").cast("string"))
    )


_EWMA_K = 8
_EWMA_DECAY = 0.75  # 1 - alpha, alpha = 0.25

_EWMA_ORACLE = f"""
WITH t AS (
  SELECT user_id, event_id,
         list(value) OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id
                           ROWS BETWEEN {_EWMA_K - 1} PRECEDING
                                    AND CURRENT ROW) AS l
  FROM events
)
SELECT user_id, event_id,
       round(list_sum(list_transform(
               l, (x, i) -> x * {_EWMA_DECAY} ** (len(l) - i)))
             / ((1 - {_EWMA_DECAY} ** len(l)) / {1 - _EWMA_DECAY}), 6)
         AS ewma8
FROM t
"""


@register("ts_ewma_bounded", oracle=_EWMA_ORACLE)
def ts_ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon EWMA (α=0.25 over the trailing 8 observations per
    user) — the streaming-metrics smoother. TRUE EWMA is a recursion no
    SQL window frame can express; truncating at K observations makes it
    a frame computation with < (1-α)^K ≈ 10% residual weight, and the
    truncated form re-normalizes so weights always sum to 1. The frame's
    collect_list preserves frame order on a TOTAL order (ts, event_id),
    weights come from an indexed transform (Spark indexes 0-based, DuckDB
    1-based — the exponent is written per-engine so the weight vectors
    are identical), and the normalizer is the closed-form geometric sum.
    Both engines fold the same ≤8 doubles in the same order; 6-dp
    rounding absorbs the last ulp. One shuffle on user_id, O(K) per row."""
    ev = load_table(spark, "events", sf_dir)
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros("ts"), "event_id")
         .rowsBetween(-( _EWMA_K - 1), 0))
    lst = ev.select("user_id", "event_id",
                    F.collect_list("value").over(w).alias("l"))
    n = F.size("l")
    decay = F.lit(_EWMA_DECAY)
    num = F.aggregate(
        F.transform("l", lambda x, i: x * F.pow(decay, n - 1 - i)),
        F.lit(0.0), lambda acc, x: acc + x)
    den = (F.lit(1.0) - F.pow(decay, n)) / F.lit(1 - _EWMA_DECAY)
    return lst.select("user_id", "event_id",
                      F.round(num / den, 6).alias("ewma8"))


_ZSCORE_ORACLE = """
WITH scored AS (
  SELECT event_id, event_type, ts, value,
         COUNT(*) OVER wp AS n_prior,
         AVG(value) OVER wp AS mu,
         STDDEV_SAMP(value) OVER wp AS sigma
  FROM events
  WINDOW wp AS (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type, ts, value,
       round((value - mu) / sigma, 6) AS z
FROM scored
WHERE n_prior >= 10 AND sigma > 0
  AND abs(round((value - mu) / sigma, 6)) >= 2.5
"""


@register("ts_anomaly_zscore", oracle=_ZSCORE_ORACLE)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per event-type series: each value
    scored against the mean/stddev of the 20 PRIOR observations (frame ends
    at 1 PRECEDING — the online-monitoring form, where the current point
    must not contaminate its own baseline), flagged at |z| >= 2.5 once the
    baseline has >= 10 points. One window pass over a (series, time) sort —
    the same single-shuffle shape as the other ts_* ops, embarrassingly
    parallel across series at 100 TB.

    Determinism: the frame is anchored on the (ts, event_id) total order;
    the threshold is applied to the 6-dp-ROUNDED z on both engines (the
    radius-search discipline — an unrounded comparison could admit a pair
    on one engine and not the other within one ulp)."""
    ev = load_table(spark, "events", sf_dir)
    wp = (Window.partitionBy("event_type").orderBy("ts", "event_id")
          .rowsBetween(-20, -1))
    scored = ev.select(
        "event_id", "event_type", "ts", "value",
        F.count(F.lit(1)).over(wp).alias("n_prior"),
        F.avg("value").over(wp).alias("mu"),
        F.stddev_samp("value").over(wp).alias("sigma"))
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6)
    return (scored
            .where((F.col("n_prior") >= 10) & (F.col("sigma") > 0)
                   & (F.abs(z) >= 2.5))
            .select("event_id", "event_type", "ts", "value", z.alias("z")))


# ---------------------------------------------------------------------------
# month-over-month growth
# ---------------------------------------------------------------------------

_MOM_ORACLE = """
WITH monthly AS (
  SELECT n_name,
         date_trunc('month', o_orderdate) AS month,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, date_trunc('month', o_orderdate)
)
SELECT n_name, month, rev_cents,
       LAG(rev_cents) OVER (PARTITION BY n_name ORDER BY month)
         AS prev_rev_cents,
       CAST(rev_cents AS DOUBLE)
         / CAST(LAG(rev_cents) OVER (PARTITION BY n_name ORDER BY month)
                AS DOUBLE) AS growth
FROM monthly
"""


@register("ts_mom_growth", oracle=_MOM_ORACLE)
def ts_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per nation — the standard KPI
    report shape: calendar rollup, then a lag ratio along each entity's
    monthly series (NULL on the first month: no prior period, not 0%).
    Money stays in exact integer cents through the rollup; the final
    growth ratio is one int→double division per row, bit-identical
    across engines.

    Scale shape: the dims broadcast into the orders scan, the rollup
    shuffles only (nation, month) partial sums — group count is
    25 nations × months regardless of fact size — and the lag window
    partitions by nation over that already-tiny table."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name",
                 F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.sum(iround(F.col("o_totalprice") * 100))
             .cast("bigint").alias("rev_cents")))
    w = Window.partitionBy("n_name").orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "n_name", "month", "rev_cents", prev.alias("prev_rev_cents"),
        (F.col("rev_cents").cast("double") / prev.cast("double"))
        .alias("growth"))


# ---------------------------------------------------------------------------
# seasonal decomposition + percent-of-total
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS day_cents
  FROM events GROUP BY event_type, date_trunc('day', ts)
), framed AS (
  SELECT event_type, day, day_cents,
         SUM(day_cents) OVER w AS frame_sum,
         COUNT(*) OVER w AS frame_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
)
SELECT event_type, day, day_cents,
       CAST(frame_sum AS DOUBLE) / 7.0 AS trend_cents,
       CAST(day_cents AS DOUBLE) - CAST(frame_sum AS DOUBLE) / 7.0
         AS seasonal_cents
FROM framed WHERE frame_n = 7
"""


@register("ts_seasonal_decompose_ma", oracle=_SEASONAL_ORACLE)
def ts_seasonal_decompose_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition, the moving-average form: per
    event_type daily series, trend = CENTERED 7-observation mean (only
    complete frames — edges carry no honest trend), seasonal residual =
    observation − trend. Money stays integer cents through the rollup
    and the frame sum; the two double ops at the end (one divide by the
    literal 7.0, one subtract) are each single correctly-rounded IEEE
    operations, bit-identical across engines.

    Scale shape: the daily rollup shuffles (type, day) partial sums — the
    grain is calendar-bounded regardless of event volume — and the
    centered frame is a per-type ROWS window over that tiny series."""
    ev = load_table(spark, "events", sf_dir)
    daily = (ev.groupBy("event_type",
                         F.date_trunc("day", "ts").alias("day"))
             .agg(F.sum(iround(F.col("value") * 100))
                  .cast("bigint").alias("day_cents")))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    framed = daily.select(
        "event_type", "day", "day_cents",
        F.sum("day_cents").over(w).alias("frame_sum"),
        F.count(F.lit(1)).over(w).alias("frame_n"))
    trend = F.col("frame_sum").cast("double") / F.lit(7.0)
    return (framed.where(F.col("frame_n") == 7)
            .select("event_type", "day", "day_cents",
                    trend.alias("trend_cents"),
                    (F.col("day_cents").cast("double") - trend)
                    .alias("seasonal_cents")))


# ---------------------------------------------------------------------------
# CUSUM drift / drawdown
# ---------------------------------------------------------------------------

_DRIFT_K_CENTS = 100_000  # |cum deviation| > 1000.00 x n flags drift

_CUSUM_ORACLE = f"""
WITH c AS (
  SELECT event_id, event_type, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS vc
  FROM events
), g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(vc) AS BIGINT) AS s
  FROM c GROUP BY event_type
), d AS (
  SELECT c.event_id, c.event_type, c.ts, c.vc * g.n - g.s AS dev, g.n
  FROM c JOIN g USING (event_type)
), r AS (
  SELECT event_id, event_type, ts, n,
         CAST(SUM(dev) OVER (PARTITION BY event_type ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_fp
  FROM d
), m AS (
  SELECT event_id, event_type, n, cusum_fp,
         CAST(MAX(cusum_fp) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS runmax_fp
  FROM r
)
SELECT event_id, event_type, cusum_fp,
       runmax_fp - cusum_fp AS drawdown_fp,
       abs(cusum_fp) > {_DRIFT_K_CENTS} * n AS is_drift
FROM m
"""


@register("ts_cusum_drift", oracle=_CUSUM_ORACLE)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-style drift detection per event type: the running sum of
    each observation's deviation from the series mean, plus the running
    peak and the drawdown from it — the change-detection primitive a
    quality dashboard runs over ingestion metrics. All arithmetic is
    integral: deviations are cross-multiplied (vc·n − S instead of
    vc − S/n) so the cumulative sum is an exact BIGINT at every row and
    the drift verdict (|cum| > K·n) cannot flake on a float ulp.
    Int64 bound: |vc·n| ≈ 5e4·n cents — safe past 1e7 rows per type;
    beyond that the same expressions lift to decimal(38,0) unchanged.

    Scale shape: one combinable groupBy for (n, S), broadcast back, then
    a per-type ordered running frame — partitioned by event_type, the
    same bounded-window shape as win_running_frame; a single dominant
    type would call for the range-bucketed two-pass rank instead
    (llm_shuffle_deterministic shows it)."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "ts",
        iround(F.col("value") * 100).alias("vc"))
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vc").cast("bigint").alias("s"))
    d = ev.join(F.broadcast(g), "event_type").select(
        "event_id", "event_type", "ts", "n",
        (F.col("vc") * F.col("n") - F.col("s")).alias("dev"))
    w = (Window.partitionBy("event_type").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = d.select("event_id", "event_type", "ts", "n",
                 F.sum("dev").over(w).cast("bigint").alias("cusum_fp"))
    r = r.select("event_id", "event_type", "n", "cusum_fp",
                 F.max("cusum_fp").over(w).cast("bigint")
                 .alias("runmax_fp"))
    return r.select(
        "event_id", "event_type", "cusum_fp",
        (F.col("runmax_fp") - F.col("cusum_fp")).alias("drawdown_fp"),
        (F.abs(F.col("cusum_fp")) > _DRIFT_K_CENTS * F.col("n"))
        .alias("is_drift"))


# ---------------------------------------------------------------------------
# exact rolling correlation
# ---------------------------------------------------------------------------

_ROLLING_CORR_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         SUM(CAST(round(value * 100, 0) AS BIGINT)) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), sums AS (
  -- HUGEINT moments: BIGINT x*x would overflow two orders of scale out
  SELECT event_type, h, x, y,
         CAST(COUNT(*) OVER w AS BIGINT) AS k,
         SUM(CAST(x AS HUGEINT)) OVER w AS sx,
         SUM(CAST(y AS HUGEINT)) OVER w AS sy,
         SUM(CAST(x AS HUGEINT) * x) OVER w AS sxx,
         SUM(CAST(y AS HUGEINT) * y) OVER w AS syy,
         SUM(CAST(x AS HUGEINT) * y) OVER w AS sxy
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT event_type, h, CAST(x AS BIGINT) AS x, y,
       CAST(CAST(k * sxy - sx * sy AS DOUBLE)
            / NULLIF(sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(k * syy - sy * sy AS DOUBLE)), 0.0)
         AS DOUBLE) AS rolling_corr
FROM sums
WHERE k = 6
"""


@register("ts_rolling_corr", oracle=_ROLLING_CORR_ORACLE)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 6-hour Pearson correlation between hourly revenue and
    hourly event count, per event type — the co-movement monitor behind
    'is spend tracking traffic?' dashboards. Bit-exact despite being a
    float statistic: every frame moment (Σx, Σy, Σxx, Σyy, Σxy) is an
    int64 sum of fixed-point cents, and the final Pearson ratio is the
    same three-operation double expression in both engines (numerator /
    (sqrt·sqrt)), so each step is a single correctly-rounded IEEE op.
    Frames shorter than the full 6 hours are suppressed (k = 6), which
    also dodges the 0/0 warm-up edge.

    Scale shape: the hourly pre-aggregate is the only corpus-sized
    shuffle (map-side combinable); the window runs over (type, hour)
    rows — thousands per type, not events."""
    ev = load_table(spark, "events", sf_dir)
    hourly = (ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
              .agg(F.sum(iround(F.col("value") * 100)).alias("x"),
                   F.count(F.lit(1)).cast("bigint").alias("y")))
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(-5, 0))
    # decimal moments (the HUGEINT twin): int64 x*x would overflow once
    # hourly cents pass ~3e9 — two orders of scale from here, which is
    # exactly where this has to keep working
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    sums = hourly.select(
        "event_type", "h", "x", "y",
        F.count(F.lit(1)).over(w).cast("bigint").alias("k"),
        F.sum(xd).over(w).alias("sx"), F.sum(yd).over(w).alias("sy"),
        F.sum(xd * xd).over(w).alias("sxx"),
        F.sum(yd * yd).over(w).alias("syy"),
        F.sum(xd * yd).over(w).alias("sxy"))
    num = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = (F.sqrt((F.col("k") * F.col("sxx")
                   - F.col("sx") * F.col("sx")).cast("double"))
           * F.sqrt((F.col("k") * F.col("syy")
                     - F.col("sy") * F.col("sy")).cast("double")))
    return (sums.where(F.col("k") == 6)
            .select("event_type", "h", F.col("x").cast("bigint").alias("x"),
                    "y",
                    (num / F.nullif(den, F.lit(0.0))).cast("double")
                    .alias("rolling_corr")))


# ---------------------------------------------------------------------------
# deterministic stride downsampling
# ---------------------------------------------------------------------------

_STRIDE_ORACLE = """
SELECT event_id, event_type, ts, value
FROM (
  SELECT event_id, event_type, ts, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events
) t
WHERE (rn - 1) % 5 = 0
"""


@register("ts_downsample_stride", oracle=_STRIDE_ORACLE)
def ts_downsample_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-5th-point downsampling per (event_type, day) — the
    deterministic thinning used to cap chart/monitor cardinality while
    keeping temporal coverage (contrast llm_sample_* which sample by
    hash, losing time structure). Partitioning by day, not just type,
    keeps the row_number partitions bounded (one day of one type) so no
    single task ever owns a whole series — the scale property a naive
    PARTITION BY type stride loses.

    (ts, event_id) is the tie-safe total order on both sides."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type", F.date_trunc("day", "ts")) \
        .orderBy("ts", "event_id")
    return (ev.select("event_id", "event_type", "ts", "value",
                      F.row_number().over(w).alias("rn"))
            .where((F.col("rn") - 1) % 5 == 0)
            .select("event_id", "event_type", "ts", "value"))


# ---------------------------------------------------------------------------
# per-group linear trend slope
# ---------------------------------------------------------------------------

_TREND_ORACLE = """
WITH pts AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(date_part('hour', ts) AS BIGINT) AS x,
         CAST(round(value * 100, 0) AS BIGINT) AS y
  FROM events
), m AS (
  SELECT event_type, day,
         CAST(COUNT(*) AS BIGINT) AS k,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM pts GROUP BY event_type, day
)
SELECT event_type, day, k,
       CAST(CAST(k * sxy - sx * sy AS DOUBLE)
            / NULLIF(CAST(k * sxx - sx * sx AS DOUBLE), 0.0) AS DOUBLE)
         AS slope_cents_per_hour
FROM m
"""


@register("ts_trend_slope", oracle=_TREND_ORACLE)
def ts_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, day) least-squares TREND SLOPE of value against
    hour-of-day — 'is spend rising through the day?' as one number per
    series. Spark ships regr_slope, but its internal double sums are
    aggregation-order-dependent; this computes the same β̂ =
    (kΣxy−ΣxΣy)/(kΣxx−(Σx)²) from EXACT integer moments (decimal /
    HUGEINT — overflow-proof at any scale) with the division as the
    single double op, so the slope is bit-identical across engines,
    partition counts, and AQE re-plans.

    Scale shape: one combinable groupBy; moments are 5 numbers per
    group regardless of group size."""
    ev = load_table(spark, "events", sf_dir)
    pts = ev.select(
        "event_type", F.date_trunc("day", "ts").alias("day"),
        F.hour("ts").cast("bigint").alias("x"),
        iround(F.col("value") * 100).alias("y"))
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    m = (pts.groupBy("event_type", "day")
         .agg(F.count(F.lit(1)).cast("bigint").alias("k"),
              F.sum(xd).alias("sx"), F.sum(yd).alias("sy"),
              F.sum(xd * xd).alias("sxx"), F.sum(xd * yd).alias("sxy")))
    num = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("double")
    return m.select("event_type", "day", "k",
                    (num / F.nullif(den, F.lit(0.0))).cast("double")
                    .alias("slope_cents_per_hour"))


# ---------------------------------------------------------------------------
# time-series gap detection
# ---------------------------------------------------------------------------

_GAP_MINUTES = 180

_GAP_ORACLE = f"""
SELECT user_id,
       prev_ts AS gap_start, ts AS gap_end,
       CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS gap_seconds
FROM (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events
) t
WHERE prev_ts IS NOT NULL
  AND ts > prev_ts + INTERVAL {_GAP_MINUTES} MINUTE
"""


@register("ts_gap_detection", oracle=_GAP_ORACLE)
def ts_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-gap detection: per-user intervals with no events for over
    3 hours — the monitoring primitive behind sensor-dropout, churn-risk
    and pipeline-stall alerts (sessionization's complement: it reports
    the HOLES, not the activity). Strict > on the boundary: a gap of
    exactly the threshold is not an alert, matching the oracle's
    interval comparison.

    Scale shape: one lag window partitioned by user (the same single
    (user, time) exchange the sessionizers use); output is gap-sized,
    not event-sized."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts"))
    return (lagged
            .where(F.col("prev_ts").isNotNull()
                   & (F.col("ts") > F.col("prev_ts")
                      + F.expr(f"INTERVAL {_GAP_MINUTES} MINUTE")))
            .select("user_id", F.col("prev_ts").alias("gap_start"),
                    F.col("ts").alias("gap_end"),
                    (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts"))
                    .cast("bigint").alias("gap_seconds")))


# ---------------------------------------------------------------------------
# forward fill (last observation carried forward)
# ---------------------------------------------------------------------------

_FFILL_ORACLE = """
WITH sampled AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_id % 3 = 0
              THEN CAST(round(value * 100, 0) AS BIGINT) END AS reading
  FROM events
)
SELECT user_id, ts, event_id, reading,
       LAST_VALUE(reading IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM sampled
"""


@register("ts_forward_fill", oracle=_FFILL_ORACLE)
def ts_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF): carry each user's last non-null reading
    forward over the rows where the sensor was silent (every 3rd event
    carries a reading here; the rest are the gaps to fill) — the
    standard sparse-telemetry densification, complementing
    ts_interpolate_linear (which needs BOTH endpoints; LOCF is causal
    and streaming-safe). Readings are integer cents so the fill is
    hash-exact; leading rows before a user's first reading stay NULL
    in both engines.

    Scale shape: one user-partitioned window, running last(ignorenulls)
    over a growing frame — O(1) state per row, the same shape a
    stateful streaming LOCF keeps per key."""
    ev = load_table(spark, "events", sf_dir)
    reading = F.when(F.col("event_id") % 3 == 0,
                     iround(F.col("value") * 100))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (ev.select("user_id", "ts", "event_id",
                      reading.alias("reading"))
            .withColumn("filled",
                        F.last("reading", ignorenulls=True).over(w)))


# ---------------------------------------------------------------------------
# cumulative distinct users via the first-occurrence rewrite
# ---------------------------------------------------------------------------

_CUMDIST_ORACLE = """
WITH f AS (
  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY event_type, user_id
), n AS (
  SELECT event_type, first_day AS day, COUNT(*) AS new_users
  FROM f GROUP BY event_type, first_day
)
SELECT event_type, CAST(day AS VARCHAR) AS day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day)
            AS BIGINT) AS cum_users
FROM n
"""


@register("ts_cumulative_distinct_users", oracle=_CUMDIST_ORACLE)
def ts_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the growth-
    accounting curve ('total unique users ever') that a naive
    COUNT(DISTINCT) OVER (ORDER BY day) recomputes quadratically and
    neither engine's window path supports efficiently. The classic
    FIRST-OCCURRENCE REWRITE makes it linear: a user contributes to the
    distinct total exactly once, on their first active day, so
    min(day) per (type, user) -> count per (type, first_day) -> running
    sum IS the cumulative distinct count. Complements
    agg_sliding_distinct_users (bounded sliding windows, where eviction
    forbids this trick).

    Scale shape: two shrinking combinable aggregates (events ->
    (type, user) -> (type, day)) and a window over day-count-sized
    partitions — the only full-data exchange is the first groupBy; the
    running sum never sees raw events."""
    ev = load_table(spark, "events", sf_dir)
    f = (ev.groupBy("event_type", "user_id")
         .agg(F.min(F.col("ts").cast("date")).alias("first_day")))
    n = (f.groupBy("event_type", F.col("first_day").alias("day"))
         .agg(F.count(F.lit(1)).alias("new_users")))
    w = Window.partitionBy("event_type").orderBy("day") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return n.select(
        "event_type", F.col("day").cast("string").alias("day"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"))


# ---------------------------------------------------------------------------
# time-weighted average
# ---------------------------------------------------------------------------

_TWA_ORACLE = """
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS day, epoch_us(ts) AS t,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         lead(epoch_us(ts)) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS t_next,
         epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP)) + 86400000000 AS day_end
  FROM events
), w AS (
  SELECT event_type, day, cents,
         CAST(COALESCE(t_next, day_end) - t AS BIGINT) AS wus
  FROM s
)
SELECT event_type, CAST(day AS VARCHAR) AS day,
       CAST(SUM(cents * wus) AS BIGINT) AS num_cents_us,
       CAST(SUM(wus) AS BIGINT) AS den_us,
       CAST(SUM(cents * wus) AS DOUBLE) / CAST(SUM(wus) AS DOUBLE) / 100.0
         AS twa_value
FROM w GROUP BY event_type, day
"""


@register("ts_time_weighted_avg", oracle=_TWA_ORACLE)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average per (type, day) — the correct daily mean for
    IRREGULARLY sampled series (sensor readings, account balances,
    prices): each sample holds until the next one, so it is weighted by
    its holding duration, not counted once. A plain AVG over-weights
    bursts — the metric every balance/exposure report gets wrong first.
    The last sample of a day holds to day end (86,400 s), so day
    weights sum to a full day from the first sample onward.

    Determinism: holding times are EXACT integer microseconds
    (unix_micros here, epoch_us in the oracle — sub-second parts must
    not truncate, which a seconds-based epoch() silently does and WAS
    the first draft's parity failure), values are integer cents, and
    the single double division is the only float op.

    Scale shape: one (type, day) exchange shared by the lead window and
    the aggregate; day-bounded partitions keep the window state O(1)
    per row at any history length."""
    ev = load_table(spark, "events", sf_dir)
    day = F.col("ts").cast("date")
    t = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("event_type", day).orderBy("ts", "event_id")
    s = ev.select(
        "event_type", day.alias("day"), t.alias("t"),
        iround(F.col("value") * 100).alias("cents"),
        F.lead(t).over(w).alias("t_next"),
        (F.unix_micros(day.cast("timestamp")) + F.lit(86400000000))
        .alias("day_end"))
    wdf = s.select(
        "event_type", "day", "cents",
        (F.coalesce("t_next", "day_end") - F.col("t")).cast("bigint")
        .alias("wus"))
    return (wdf.groupBy("event_type", "day")
            .agg(F.sum(F.col("cents") * F.col("wus")).cast("bigint")
                 .alias("num_cents_us"),
                 F.sum("wus").cast("bigint").alias("den_us"))
            .select("event_type", F.col("day").cast("string").alias("day"),
                    "num_cents_us", "den_us",
                    (F.col("num_cents_us").cast("double")
                     / F.col("den_us").cast("double") / F.lit(100.0))
                    .alias("twa_value")))


# ---------------------------------------------------------------------------
# LTTB downsampling
# ---------------------------------------------------------------------------

_LTTB_K = 12


def lttb_select(xs: list, ys: list, k: int) -> list:
    """Pure-Python largest-triangle-three-buckets (Steinarsson 2013):
    keep first and last points; for each interior bucket pick the point
    forming the LARGEST triangle with the previously selected point and
    the AVERAGE of the next bucket. Sequential by construction (each
    choice conditions the next), which is why the operator is rows-only:
    no SQL oracle can express the recursion. Shared by the Spark UDF and
    the pytest reference so both sides run the IDENTICAL float
    arithmetic in the identical order (the BPE-train precedent).
    Returns the selected indices."""
    n = len(xs)
    if n <= k:
        return list(range(n))
    sel = [0]
    # k-2 interior buckets over points 1..n-2, float bucket edges
    step = (n - 2) / float(k - 2)
    for b in range(k - 2):
        lo = 1 + int(b * step)
        hi = 1 + int((b + 1) * step)
        hi = min(hi, n - 1)
        nlo, nhi = hi, (1 + int((b + 2) * step) if b + 2 < k - 1 else n)
        nhi = min(nhi, n)
        ax, ay = xs[sel[-1]], ys[sel[-1]]
        if nlo < nhi:
            cx = sum(xs[nlo:nhi]) / float(nhi - nlo)
            cy = sum(ys[nlo:nhi]) / float(nhi - nlo)
        else:
            cx, cy = xs[n - 1], ys[n - 1]
        best, best_area = lo, -1.0
        for i in range(lo, hi):
            area = abs((ax - cx) * (ys[i] - ay) - (ax - xs[i]) * (cy - ay))
            if area > best_area:  # strict > : first-index tie-break
                best, best_area = i, area
        sel.append(best)
    sel.append(n - 1)
    return sel


@register("ts_downsample_lttb", oracle=None)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB (largest-triangle-three-buckets) downsampling of each
    event-type's daily-mean series to 12 points — THE standard
    decimation for monitoring charts: unlike stride thinning
    (ts_downsample_stride), LTTB keeps the visually load-bearing points
    (peaks, inflections) by maximizing triangle area against what was
    just kept and what comes next. Sequential by construction — each
    selection conditions the next bucket's anchor — so no SQL oracle
    exists (rows-only); tests/test_llm_quality.py pins the ENTIRE
    selection against :func:`lttb_select` run on the same series
    driver-side, plus the standard double-run determinism gate.

    Determinism: the daily series is exact (integer-cents means at
    fixed precision), each series lives in ONE group (applyInPandas),
    and the arithmetic is the shared pure-Python routine — same floats,
    same order, every run and every partitioning.

    Scale shape: the pre-aggregate collapses raw events to (type, day)
    map-side; the sequential kernel then sees only chart-sized series
    (one group per key, bounded by the calendar, not the corpus) —
    LTTB at 100 TB is a per-series post-pass over tiny aggregates,
    which is exactly how dashboards run it."""
    import pandas as pd

    ev = load_table(spark, "events", sf_dir)
    daily = (ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
             .agg(F.avg(iround(F.col("value") * 100)).alias("cents_mean")))

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        xs = [float(i) for i in range(len(pdf))]
        ys = [float(v) for v in pdf["cents_mean"]]
        sel = lttb_select(xs, ys, _LTTB_K)
        out = pdf.iloc[sel].copy()
        out["pos"] = sel
        return out[["event_type", "day", "cents_mean", "pos"]]

    return (daily.groupBy("event_type")
            .applyInPandas(pick, schema="event_type string, day date, "
                                        "cents_mean double, pos bigint")
            .select("event_type", F.col("day").cast("string").alias("day"),
                    F.round("cents_mean", 6).alias("cents_mean"),
                    F.col("pos").cast("bigint").alias("pos")))


# ---------------------------------------------------------------------------
# IQR fence outliers
# ---------------------------------------------------------------------------

_IQR_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), fences AS (
  SELECT event_type,
         MIN(CASE WHEN rk >= (n + 3) // 4 THEN value END) AS q1,
         MIN(CASE WHEN rk >= (3 * n + 3) // 4 THEN value END) AS q3
  FROM ranked GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       f.q1 - 1.5 * (f.q3 - f.q1) AS lo_fence,
       f.q3 + 1.5 * (f.q3 - f.q1) AS hi_fence,
       e.value > f.q3 + 1.5 * (f.q3 - f.q1) AS is_high
FROM events e JOIN fences f ON e.event_type = f.event_type
WHERE e.value < f.q1 - 1.5 * (f.q3 - f.q1)
   OR e.value > f.q3 + 1.5 * (f.q3 - f.q1)
"""


@register("ts_outlier_iqr", oracle=_IQR_ORACLE)
def ts_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers per event_type: values outside
    [q1 − 1.5·IQR, q3 + 1.5·IQR] with DISCRETE quartiles — actual data
    values at rank ceil(p·n) via pure integer arithmetic
    ((p·n + den − 1) div den), the agg_percentile_disc_exact discipline,
    so no interpolation ulp exists and the fences are the same IEEE ops
    in the same order on both engines. Complements ts_anomaly_zscore
    (moment-based) and agg_mad_robust (median-based) with the
    quartile-based detector that ignores distribution shape.

    Scale shape: one window shuffle per event_type for the ranks (rank +
    count share the exchange), a combinable conditional-MIN groupBy to a
    types-sized fence table, then a BROADCAST fence join back — the scan
    side never reshuffles."""
    ev = load_table(spark, "events", sf_dir)
    wp = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type", "value",
        F.row_number().over(wp.orderBy("value", "event_id")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"))

    def disc(num: int, den: int, name: str):
        thresh = F.expr(f"({num} * n + {den} - 1) div {den}")
        return F.min(F.when(F.col("rk") >= thresh, F.col("value"))) \
            .alias(name)

    fences = (ranked.groupBy("event_type")
              .agg(disc(1, 4, "q1"), disc(3, 4, "q3")))
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (ev.join(F.broadcast(fences), "event_type")
            .where((F.col("value") < lo) | (F.col("value") > hi))
            .select("event_id", "event_type", "value",
                    lo.alias("lo_fence"), hi.alias("hi_fence"),
                    (F.col("value") > hi).alias("is_high")))


# ---------------------------------------------------------------------------
# lag-k autocorrelation
# ---------------------------------------------------------------------------

_AUTOCORR_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         SUM(CAST(round(value * 100, 0) AS BIGINT)) AS x
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), pairs AS (
  SELECT event_type, x,
         lag(x) OVER (PARTITION BY event_type ORDER BY h) AS xp
  FROM hourly
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS k,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(xp AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(xp AS HUGEINT) * xp) AS syy,
         SUM(CAST(x AS HUGEINT) * xp) AS sxy
  FROM pairs WHERE xp IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, k,
       CAST(CAST(k * sxy - sx * sy AS DOUBLE)
            / NULLIF(sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(k * syy - sy * sy AS DOUBLE)), 0.0)
         AS DOUBLE) AS autocorr_lag1
FROM m
"""


@register("ts_autocorr_lag", oracle=_AUTOCORR_ORACLE)
def ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the hourly revenue series per event
    type — THE one-number seasonality/persistence probe (high r₁: the
    series trends; near 0: hourly noise; negative: mean-reverting),
    read before anyone fits a forecast. Bit-exact by the
    ts_rolling_corr discipline: the series is fixed-point cents, every
    moment (Σx, Σx², Σxxₚ…) is an exact integer sum (decimal(38,0) in
    Spark ≙ HUGEINT in DuckDB), and the final Pearson ratio is the same
    fixed tree of correctly-rounded double ops on both engines.

    Scale shape: hourly pre-agg is the only corpus-sized (combinable)
    shuffle; the lag window and moment aggregate run over (type, hour)
    rows — thousands, not events."""
    ev = load_table(spark, "events", sf_dir)
    hourly = (ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
              .agg(F.sum(iround(F.col("value") * 100)).alias("x")))
    w = Window.partitionBy("event_type").orderBy("h")
    pairs = (hourly.select("event_type", "x",
                           F.lag("x").over(w).alias("xp"))
             .where(F.col("xp").isNotNull()))
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("xp").cast("decimal(38,0)")
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(xd).alias("sx"), F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"), F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"))
    num = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = (F.sqrt((F.col("k") * F.col("sxx")
                   - F.col("sx") * F.col("sx")).cast("double"))
           * F.sqrt((F.col("k") * F.col("syy")
                     - F.col("sy") * F.col("sy")).cast("double")))
    return m.select("event_type", "k",
                    (num / F.nullif(den, F.lit(0.0))).cast("double")
                    .alias("autocorr_lag1"))


# ---------------------------------------------------------------------------
# day-of-week × hour activity profile
# ---------------------------------------------------------------------------

_DOW_HOUR_ORACLE = """
-- DuckDB dayofweek is 0-based Sunday, Spark's is 1-based Sunday: +1
SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       CAST(COUNT(*) FILTER (WHERE hour(ts) < 6) AS BIGINT) AS h_night,
       CAST(COUNT(*) FILTER (WHERE hour(ts) >= 6 AND hour(ts) < 12)
            AS BIGINT) AS h_morning,
       CAST(COUNT(*) FILTER (WHERE hour(ts) >= 12 AND hour(ts) < 18)
            AS BIGINT) AS h_afternoon,
       CAST(COUNT(*) FILTER (WHERE hour(ts) >= 18) AS BIGINT) AS h_evening,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY CAST(dayofweek(ts) + 1 AS BIGINT)
"""


@register("ts_dow_hour_profile", oracle=_DOW_HOUR_ORACLE)
def ts_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × day-part activity heat profile — the calendar
    seasonality matrix behind every traffic dashboard, as a PIVOTED
    conditional aggregation (one row per weekday, one column per day
    part) rather than a tall (dow, hour, n) table: the wide shape is
    what the chart consumes and what makes the weekday/weekend contrast
    scannable. Day-part buckets are conditional counts (Spark
    count_if ≙ DuckDB COUNT FILTER), Sunday=1 in both engines'
    dayofweek.

    Scale shape: one combinable groupBy to 7 rows; the 'pivot' is four
    conditional aggregates, so no second pass and no pivot shuffle."""
    ev = load_table(spark, "events", sf_dir)
    h = F.hour("ts")

    def part(cond, name):
        return F.count_if(cond).cast("bigint").alias(name)

    return (ev.groupBy(F.dayofweek("ts").cast("bigint").alias("dow"))
            .agg(part(h < 6, "h_night"),
                 part((h >= 6) & (h < 12), "h_morning"),
                 part((h >= 12) & (h < 18), "h_afternoon"),
                 part(h >= 18, "h_evening"),
                 F.sum(iround(F.col("value") * 100)).cast("bigint")
                 .alias("cents")))


# ---------------------------------------------------------------------------
# local-maximum peak detection
# ---------------------------------------------------------------------------

_PEAK_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), nav AS (
  SELECT event_type, hr, cents,
         lag(cents) OVER (PARTITION BY event_type ORDER BY hr) AS prev_cents,
         lead(cents) OVER (PARTITION BY event_type ORDER BY hr) AS next_cents
  FROM hourly
)
SELECT event_type, hr, cents, prev_cents, next_cents
FROM nav
WHERE prev_cents IS NOT NULL AND next_cents IS NOT NULL
  AND cents > prev_cents AND cents > next_cents
"""


@register("ts_peak_detect_local", oracle=_PEAK_ORACLE)
def ts_peak_detect_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peaks in the hourly revenue series per event type —
    an hour strictly above both its neighbors — the primitive beneath
    burst detection, alert de-bouncing, and periodicity eyeballing
    (complements ts_anomaly_zscore's global-moment detector with a
    purely LOCAL one that needs no distribution assumption). The series
    aggregates to exact integer cents first, so peak comparison is pure
    BIGINT — no float anywhere, no tolerance. Interior hours only (first
    and last hour of each series can't certify both sides).

    Scale shape: one combinable groupBy collapses the corpus to the
    calendar (hours × types — data-size-free after the pre-agg), then a
    single lag/lead window per type over the tiny hourly table."""
    hourly = hourly_cents(load_table(spark, "events", sf_dir))
    w = Window.partitionBy("event_type").orderBy("hr")
    nav = hourly.select(
        "event_type", "hr", "cents",
        F.lag("cents").over(w).alias("prev_cents"),
        F.lead("cents").over(w).alias("next_cents"))
    return nav.where(F.col("prev_cents").isNotNull()
                     & F.col("next_cents").isNotNull()
                     & (F.col("cents") > F.col("prev_cents"))
                     & (F.col("cents") > F.col("next_cents")))


# ---------------------------------------------------------------------------
# multi-lag autocorrelation function
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 24

_ACF_ORACLE = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                        date_trunc('hour', ts)) AS BIGINT) AS h,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), lags AS (
  SELECT CAST(unnest(range(1, {_ACF_MAX_LAG + 1})) AS BIGINT) AS lag
), paired AS (
  SELECT a.event_type, lags.lag, a.cents AS x, b.cents AS y
  FROM hourly a CROSS JOIN lags
  JOIN hourly b ON b.event_type = a.event_type AND b.h = a.h + lags.lag
), s AS (
  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM paired GROUP BY event_type, lag
), a AS (
  -- HUGEINT -> DOUBLE via VARCHAR: the skew_kurt correct-rounding hop
  SELECT event_type, lag, n,
         CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS ax,
         CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS ay,
         CAST(CAST(sxy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS axy,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS axx,
         CAST(CAST(syy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS ayy
  FROM s
)
SELECT event_type, lag, n AS n_pairs,
       (axy - ax * ay)
         / sqrt((axx - ax * ax) * (ayy - ay * ay)) AS acf
FROM a
"""


@register("ts_acf_multi_lag", oracle=_ACF_ORACLE)
def ts_acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The autocorrelation function at lags 1…24 of the hourly revenue
    series per event type — the full periodicity probe (a lag-24 spike
    is daily seasonality, a slow decay is trend) that generalizes
    ts_autocorr_lag's single lag-1 number. Sums of cents and their
    cross-products aggregate in decimal(38,0)/HUGEINT space (hourly
    cents ~2·10⁶, squares ~4·10¹² — a 100× corpus would overflow BIGINT
    sums, so wide-decimal from the start, the skew_kurt discipline);
    the Pearson assembly is an average-based double tree identical in
    both engines, with the oracle's HUGEINT sums reaching double via
    the VARCHAR correct-rounding hop.

    Scale shape: the combinable hourly pre-agg collapses the corpus to
    the calendar; the 24-lag spine is a broadcast cross join over the
    HOURLY table (24×hours rows — calendar-bounded, corpus-free); the
    per-(type, lag) moment fold is one combinable groupBy."""
    hourly = (hourly_cents(load_table(spark, "events", sf_dir))
              .select("event_type",
                      (F.unix_timestamp("hr") / 3600).cast("bigint")
                      .alias("h"),
                      "cents")
              .localCheckpoint(eager=False))  # both join sides share it
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = hourly.alias("a")
    b = hourly.alias("b")
    paired = (a.crossJoin(F.broadcast(lags))
              .join(b, (F.col("b.event_type") == F.col("a.event_type"))
                    & (F.col("b.h") == F.col("a.h") + F.col("lag")))
              .select(F.col("a.event_type").alias("event_type"), "lag",
                      F.col("a.cents").alias("x"),
                      F.col("b.cents").alias("y")))
    dec = "decimal(38,0)"
    s = paired.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        # cast BEFORE multiplying: a bigint*bigint product would wrap at
        # ~9·10¹⁸ before the decimal cast could see it
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"))
    nd = F.col("n").cast("double")
    ax = F.col("sx").cast("double") / nd
    ay = F.col("sy").cast("double") / nd
    axy = F.col("sxy").cast("double") / nd
    axx = F.col("sxx").cast("double") / nd
    ayy = F.col("syy").cast("double") / nd
    return s.select(
        "event_type", "lag", F.col("n").alias("n_pairs"),
        ((axy - ax * ay)
         / F.sqrt((axx - ax * ax) * (ayy - ay * ay))).alias("acf"))


# ---------------------------------------------------------------------------
# cross-correlation lead/lag
# ---------------------------------------------------------------------------

_XCORR_MAX_LAG = 12

_XCORR_ORACLE = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                        date_trunc('hour', ts)) AS BIGINT) AS h,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type, date_trunc('hour', ts)
), x AS (SELECT h, cents FROM hourly WHERE event_type = 'click'),
y AS (SELECT h, cents FROM hourly WHERE event_type = 'purchase'),
lags AS (
  SELECT CAST(unnest(range(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG + 1}))
              AS BIGINT) AS lag
), paired AS (
  SELECT lags.lag, x.cents AS xv, y.cents AS yv
  FROM x CROSS JOIN lags
  JOIN y ON y.h = x.h + lags.lag
), s AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(xv) AS sx, SUM(yv) AS sy, SUM(xv * yv) AS sxy,
         SUM(xv * xv) AS sxx, SUM(yv * yv) AS syy
  FROM paired GROUP BY lag
), a AS (
  SELECT lag, n,
         CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS ax,
         CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS ay,
         CAST(CAST(sxy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS axy,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS axx,
         CAST(CAST(syy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS ayy
  FROM s
)
SELECT lag, n AS n_pairs,
       (axy - ax * ay)
         / sqrt((axx - ax * ax) * (ayy - ay * ay)) AS xcorr
FROM a
"""


@register("ts_xcorr_lead_lag", oracle=_XCORR_ORACLE)
def ts_xcorr_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between the hourly click and purchase revenue
    series at lags −12…+12 — the lead/lag detector ("clicks lead
    purchases by N hours") that turns two KPI series into an actionable
    offset; the CROSS-series sibling of ts_acf_multi_lag, sharing its
    wide-decimal moment discipline and VARCHAR correct-rounding hop.
    A peak at positive lag means the purchase series follows clicks.

    Scale shape: the corpus collapses to two calendar-bounded hourly
    series; the 25-lag spine is a broadcast cross join over the click
    series; one combinable moment fold per lag."""
    hourly = (hourly_cents(load_table(spark, "events", sf_dir)
                           .where(F.col("event_type").isin("click",
                                                           "purchase")))
              .select("event_type",
                      (F.unix_timestamp("hr") / 3600).cast("bigint")
                      .alias("h"),
                      "cents")
              .localCheckpoint(eager=False))
    x = hourly.where(F.col("event_type") == "click").select("h", "cents")
    y = (hourly.where(F.col("event_type") == "purchase")
         .select(F.col("h").alias("hy"), F.col("cents").alias("yv")))
    lags = (spark.range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1)
            .select(F.col("id").alias("lag")))
    paired = (x.crossJoin(F.broadcast(lags))
              .join(y, F.col("hy") == F.col("h") + F.col("lag"))
              .select("lag", F.col("cents").alias("xv"), "yv"))
    dec = "decimal(38,0)"
    s = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("xv").cast(dec)).alias("sx"),
        F.sum(F.col("yv").cast(dec)).alias("sy"),
        F.sum(F.col("xv").cast(dec) * F.col("yv").cast(dec)).alias("sxy"),
        F.sum(F.col("xv").cast(dec) * F.col("xv").cast(dec)).alias("sxx"),
        F.sum(F.col("yv").cast(dec) * F.col("yv").cast(dec)).alias("syy"))
    nd = F.col("n").cast("double")
    ax = F.col("sx").cast("double") / nd
    ay = F.col("sy").cast("double") / nd
    axy = F.col("sxy").cast("double") / nd
    axx = F.col("sxx").cast("double") / nd
    ayy = F.col("syy").cast("double") / nd
    return s.select(
        "lag", F.col("n").alias("n_pairs"),
        ((axy - ax * ay)
         / F.sqrt((axx - ax * ax) * (ayy - ay * ay))).alias("xcorr"))


# ---------------------------------------------------------------------------
# burstiness / Fano factor
# ---------------------------------------------------------------------------

_FANO_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
  FROM hourly GROUP BY event_type
), a AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS var_pop
  FROM s
)
SELECT event_type, n AS n_hours, mu AS mean_per_hour,
       var_pop / mu AS fano_factor,
       (sqrt(var_pop) - mu) / (sqrt(var_pop) + mu) AS burstiness
FROM a
"""


@register("ts_burstiness_fano", oracle=_FANO_ORACLE)
def ts_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance/mean of hourly event counts — 1 under a
    Poisson process, >1 = clumped arrivals) and the Goh–Barabási
    burstiness score (σ−μ)/(σ+μ) ∈ [−1, 1) per event type — the
    dispersion diagnostics that tell an autoscaler whether traffic is
    smooth or bursty BEFORE it trusts a mean-based capacity plan
    (complements ts_peak_detect_local's where-are-the-bursts with
    how-bursty-overall). Hourly counts are exact integers; population
    moments assemble through the standard identical double tree.

    Scale shape: hourly pre-agg collapses the corpus to the calendar;
    one combinable three-sum fold per type."""
    ev = load_table(spark, "events", sf_dir)
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hr"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    s = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"))
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    var_pop = F.col("s2").cast("double") / nd - mu * mu
    return s.select(
        "event_type", F.col("n").alias("n_hours"),
        mu.alias("mean_per_hour"),
        (var_pop / mu).alias("fano_factor"),
        ((F.sqrt(var_pop) - mu) / (F.sqrt(var_pop) + mu))
        .alias("burstiness"))


# ---------------------------------------------------------------------------
# forecast-accuracy eval
# ---------------------------------------------------------------------------

_WAPE_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), pred AS (
  SELECT event_type, hr, cents,
         lag(cents, 24) OVER (PARTITION BY event_type ORDER BY hr) AS yhat
  FROM hourly
), err AS (
  SELECT event_type, cents, yhat,
         abs(cents - yhat) AS abs_err, cents - yhat AS err
  FROM pred WHERE yhat IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err,
       CAST(SUM(abs(cents)) AS BIGINT) AS sum_abs_actual,
       CAST(SUM(abs_err) AS DOUBLE) / CAST(SUM(abs(cents)) AS DOUBLE)
         AS wape,
       CAST(SUM(abs_err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
         AS mae_dollars,
       CAST(SUM(err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
         AS bias_dollars
FROM err GROUP BY event_type
"""


@register("ts_forecast_eval_wape", oracle=_WAPE_ORACLE)
def ts_forecast_eval_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scorecard — WAPE, MAE and signed bias of the
    seasonal-naive forecast (ŷₜ = yₜ₋₂₄, "same hour yesterday") per
    event type: the baseline every real forecasting deployment must
    beat, and the eval harness that scores it. All error sums are exact
    BIGINT cents (WAPE chosen over sMAPE deliberately: sMAPE's per-term
    float ratios would need an order-pinned sum, WAPE's Σ|e|/Σ|y| is
    two integer sums and one division).

    Scale shape: hourly pre-agg collapses the corpus; one lag window
    per type; one combinable four-sum fold."""
    hourly = hourly_cents(load_table(spark, "events", sf_dir))
    w = Window.partitionBy("event_type").orderBy("hr")
    pred = hourly.select(
        "event_type", "cents",
        F.lag("cents", 24).over(w).alias("yhat"))
    err = (pred.where(F.col("yhat").isNotNull())
           .select("event_type", "cents",
                   F.abs(F.col("cents") - F.col("yhat")).alias("abs_err"),
                   (F.col("cents") - F.col("yhat")).alias("err")))
    s = err.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("abs_err").cast("bigint").alias("sum_abs_err"),
        F.sum(F.abs("cents")).cast("bigint").alias("sum_abs_actual"),
        F.sum("err").cast("bigint").alias("sum_err"))
    return s.select(
        "event_type", "n_hours", "sum_abs_err", "sum_abs_actual",
        (F.col("sum_abs_err").cast("double")
         / F.col("sum_abs_actual").cast("double")).alias("wape"),
        (F.col("sum_abs_err").cast("double")
         / F.col("n_hours").cast("double") / F.lit(100.0))
        .alias("mae_dollars"),
        (F.col("sum_err").cast("double")
         / F.col("n_hours").cast("double") / F.lit(100.0))
        .alias("bias_dollars"))


# ---------------------------------------------------------------------------
# Hampel outlier filter
# ---------------------------------------------------------------------------

# 3 * 1.4826 = 4.4478 — compare 10000*dev > 44478*MAD in pure integers
_HAMPEL_NUM = 44478
_HAMPEL_DEN = 10000

_HAMPEL_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), framed AS (
  SELECT event_type, hr, cents,
         list(cents) OVER (PARTITION BY event_type ORDER BY hr
                           ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
           AS frame
  FROM hourly
), med AS (
  SELECT event_type, hr, cents,
         list_sort(frame)[(len(frame) + 1) // 2] AS med, frame
  FROM framed
), mad AS (
  SELECT event_type, hr, cents, med,
         list_sort(list_transform(frame, x -> abs(x - med)))
           [(len(frame) + 1) // 2] AS mad
  FROM med
)
SELECT event_type, hr, cents,
       CAST(med AS BIGINT) AS rolling_median,
       CAST(mad AS BIGINT) AS rolling_mad,
       {_HAMPEL_DEN} * abs(cents - med) > {_HAMPEL_NUM} * mad AS is_outlier
FROM mad
"""


@register("ts_hampel_filter", oracle=_HAMPEL_ORACLE)
def ts_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier filter over the hourly series per type — flag an
    hour when its deviation from the ROLLING median exceeds
    3·1.4826·(rolling MAD of the same ±12h frame): the robust detector
    that, unlike ts_anomaly_zscore, a single spike cannot blind,
    because both center and spread are medians. Entirely integer: the
    frame materializes as a 25-element array (collect_list over the
    frame), medians are DISCRETE lower-median picks from the sorted
    array, and the 1.4826 Gaussian consistency constant is applied as
    the integer cross-multiplication 10000·dev > 44478·MAD — no float
    exists anywhere in the operator.

    Scale shape: hourly pre-agg collapses the corpus; one frame window
    per type over the calendar-sized table; the 25-element array sorts
    are per-row constant work."""
    hourly = hourly_cents(load_table(spark, "events", sf_dir))
    w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-12, 12)
    framed = hourly.select(
        "event_type", "hr", "cents",
        F.collect_list("cents").over(w).alias("frame"))
    n = F.size("frame")
    med = F.element_at(F.array_sort("frame"),
                       ((n + 1) / 2).cast("int"))
    withmed = framed.withColumn("med", med)
    mad = F.element_at(
        F.array_sort(F.transform("frame",
                                 lambda x: F.abs(x - F.col("med")))),
        ((n + 1) / 2).cast("int"))
    withmad = withmed.withColumn("mad", mad)
    return withmad.select(
        "event_type", "hr", "cents",
        F.col("med").cast("bigint").alias("rolling_median"),
        F.col("mad").cast("bigint").alias("rolling_mad"),
        (F.lit(_HAMPEL_DEN) * F.abs(F.col("cents") - F.col("med"))
         > F.lit(_HAMPEL_NUM) * F.col("mad")).alias("is_outlier"))


# ---------------------------------------------------------------------------
# pinball-loss quantile-forecast eval
# ---------------------------------------------------------------------------

# tau in tenths: loss*10 = sum(max(tau10*(y-q), (tau10-10)*(y-q))) stays
# INTEGER for every tau on the grid — no per-term float ratios
_PINBALL_TAUS = (1, 5, 9)

_PINBALL_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), pred AS (
  SELECT event_type, cents,
         lag(cents, 24) OVER (PARTITION BY event_type ORDER BY hr) AS q
  FROM hourly
), err AS (
  SELECT event_type, cents - q AS d FROM pred WHERE q IS NOT NULL
), taus AS (
  SELECT CAST(unnest([{", ".join(str(t) for t in _PINBALL_TAUS)}])
              AS BIGINT) AS tau10
)
SELECT event_type, tau10,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(GREATEST(tau10 * d, (tau10 - 10) * d)) AS BIGINT)
         AS pinball_x10_cents,
       CAST(SUM(GREATEST(tau10 * d, (tau10 - 10) * d)) AS DOUBLE)
         / (10.0 * CAST(COUNT(*) AS DOUBLE) * 100.0)
         AS mean_pinball_dollars
FROM err CROSS JOIN taus
GROUP BY event_type, tau10
"""


@register("ts_pinball_loss_eval", oracle=_PINBALL_ORACLE)
def ts_pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the seasonal-naive forecast at
    τ ∈ {0.1, 0.5, 0.9} per event type — the scoring rule for quantile
    forecasts (a P90 capacity forecast is judged by pinball@0.9, not by
    MAE; this extends ts_forecast_eval_wape's point-forecast scorecard
    to the quantile world). The τ grid is expressed in TENTHS so the
    per-term loss max(τ₁₀·d, (τ₁₀−10)·d) is pure BIGINT — the whole sum
    is exact and order-free, with one division into dollars at the end.

    Scale shape: hourly pre-agg → lag window → broadcast 3-row τ spine
    → one combinable fold per (type, τ)."""
    hourly = hourly_cents(load_table(spark, "events", sf_dir))
    w = Window.partitionBy("event_type").orderBy("hr")
    err = (hourly.select("event_type", "cents",
                         F.lag("cents", 24).over(w).alias("q"))
           .where(F.col("q").isNotNull())
           .select("event_type", (F.col("cents") - F.col("q")).alias("d")))
    taus = spark.createDataFrame([(t,) for t in _PINBALL_TAUS],
                                 "tau10 bigint")
    loss = F.greatest(F.col("tau10") * F.col("d"),
                      (F.col("tau10") - 10) * F.col("d"))
    return (err.crossJoin(F.broadcast(taus))
            .groupBy("event_type", "tau10")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hours"),
                 F.sum(loss).cast("bigint").alias("pinball_x10_cents"))
            .select("event_type", "tau10", "n_hours", "pinball_x10_cents",
                    (F.col("pinball_x10_cents").cast("double")
                     / (F.lit(10.0) * F.col("n_hours").cast("double")
                        * F.lit(100.0)))
                    .alias("mean_pinball_dollars")))


# ---------------------------------------------------------------------------
# banded DTW series similarity (rows-only)
# ---------------------------------------------------------------------------

_DTW_BAND = 48


def dtw_banded_cost(xs, ys, band: int = _DTW_BAND) -> int:
    """Sakoe–Chiba banded DTW with |x−y| integer step cost — the shared
    reference kernel (pure Python ints, no float ever): the operator's
    executors and the pytest gate both call THIS function, and the gate
    additionally re-derives it against an independently-written
    recursive implementation on small series."""
    n, m = len(xs), len(ys)
    big = 1 << 62
    prev = [big] * (m + 1)
    prev[0] = 0
    for i in range(1, n + 1):
        cur = [big] * (m + 1)
        lo = max(1, i - band)
        hi = min(m, i + band)
        for j in range(lo, hi + 1):
            c = abs(xs[i - 1] - ys[j - 1])
            best = prev[j - 1]
            if prev[j] < best:
                best = prev[j]
            if cur[j - 1] < best:
                best = cur[j - 1]
            cur[j] = c + best
        prev = cur
    return prev[m]


@register("ts_dtw_banded_pairs")
def ts_dtw_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Dynamic Time Warping distance between every pair of
    event-type hourly revenue series — the time-series similarity join
    of the retrieved paper corpus (PAPERS.md: streaming time-series /
    trajectory similarity), answering "which KPIs move together even
    when one lags the other" where plain correlation demands exact
    alignment. Sakoe–Chiba band 48 (two days) bounds the warp; step
    cost |Δcents| keeps the whole DP in INTEGERS (bit-deterministic —
    the rows-only gate is two-run identity plus a pin of the kernel
    against an independently-written recursive DTW in
    test_llm_quality.py; no SQL oracle BY DESIGN: an O(n·band) DP
    recurrence has no DuckDB expression).

    Scale shape: the corpus collapses to K calendar-bounded series
    (combinable hourly pre-agg + per-type sorted pack); the K(K−1)/2
    pair table fans out via broadcast; each DP runs where its pair row
    lives — mapInPandas on executors, nothing on the driver. Wall is
    O(K² · hours · band) with hours calendar-bounded, corpus-free."""
    import pandas as pd

    hourly = hourly_cents(load_table(spark, "events", sf_dir))
    series = (hourly.groupBy("event_type")
              .agg(F.array_sort(F.collect_list(F.struct("hr", "cents")))
                   .alias("pts"))
              .select("event_type",
                      F.col("pts.cents").alias("series"))
              .localCheckpoint(eager=False))  # both pair sides share it
    a = series.select(F.col("event_type").alias("type_a"),
                      F.col("series").alias("sa"))
    b = series.select(F.col("event_type").alias("type_b"),
                      F.col("series").alias("sb"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))

    def _dp(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                xs = [int(v) for v in r.sa]
                ys = [int(v) for v in r.sb]
                cost = dtw_banded_cost(xs, ys)
                rows.append((r.type_a, r.type_b, len(xs), len(ys),
                             cost, cost // (len(xs) + len(ys))))
            yield pd.DataFrame(rows, columns=[
                "type_a", "type_b", "n_a", "n_b",
                "dtw_cost_cents", "dtw_per_step_cents"])

    return pairs.mapInPandas(
        _dp, "type_a string, type_b string, n_a bigint, n_b bigint, "
             "dtw_cost_cents bigint, dtw_per_step_cents bigint")


# ---------------------------------------------------------------------------
# SAX symbolic aggregate approximation
# ---------------------------------------------------------------------------

_SAX_ORACLE = """
WITH hourly AS (
  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         (hour(ts) // 6) AS blk,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS bs
  FROM events
  GROUP BY event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d'),
           (hour(ts) // 6)
), mom AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(bs) AS BIGINT) AS s1,
         CAST(SUM(bs * bs) AS BIGINT) AS s2
  FROM hourly GROUP BY event_type
), z AS (
  SELECT h.event_type, h.day, h.blk,
         CAST(h.bs AS DOUBLE) AS bsd,
         CAST(m.s1 AS DOUBLE) / CAST(m.n AS DOUBLE) AS mu,
         sqrt((CAST(m.s2 AS DOUBLE) / CAST(m.n AS DOUBLE)
               - (CAST(m.s1 AS DOUBLE) / CAST(m.n AS DOUBLE))
                 * (CAST(m.s1 AS DOUBLE) / CAST(m.n AS DOUBLE)))
              * (CAST(m.n AS DOUBLE) / (CAST(m.n AS DOUBLE) - 1.0))) AS sig
  FROM hourly h JOIN mom m ON h.event_type = m.event_type
), sym AS (
  SELECT event_type, day, blk,
         CASE WHEN bsd < mu - 0.6745 * sig THEN 'a'
              WHEN bsd < mu THEN 'b'
              WHEN bsd < mu + 0.6745 * sig THEN 'c'
              ELSE 'd' END AS s
  FROM z
)
SELECT event_type, day,
       COALESCE(MIN(CASE WHEN blk = 0 THEN s END), '_')
       || COALESCE(MIN(CASE WHEN blk = 1 THEN s END), '_')
       || COALESCE(MIN(CASE WHEN blk = 2 THEN s END), '_')
       || COALESCE(MIN(CASE WHEN blk = 3 THEN s END), '_') AS sax_word
FROM sym GROUP BY event_type, day
"""


@register("ts_sax_symbolize", oracle=_SAX_ORACLE)
def ts_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of each event type's
    revenue series: PAA into four 6-hour blocks per day, z-scored
    against the type's own block distribution, mapped to the alphabet-4
    Gaussian breakpoints (-0.6745, 0, +0.6745) and packed into one
    4-char word per day -- the representation that turns time-series
    motif/novelty discovery into plain string operations (two days
    behave alike iff their words match; a never-seen word IS the
    anomaly). The ts_dtw_banded_pairs genre at per-day granularity with
    O(1) comparisons instead of O(n*band) DP.

    Determinism: block sums are exact BIGINT cents; mu/sigma come from
    integer moments through the standard identical tree; each symbol is
    a float comparison of identically-computed doubles (breakpoint
    constants are exact literals, the ts_anomaly_zscore precedent);
    word assembly is four conditional MINs -- no float ever leaves the
    comparison, so the OUTPUT is pure strings (the day projects as
    yyyy-MM-dd, the portable projection), hash-exact by construction.

    Scale shape: one combinable (type, day, blk) groupBy collapses the
    corpus to the calendar; the 5-row moment table broadcasts back; the
    word pack is a 4-rows-per-group fold over calendar-sized data."""
    ev = load_table(spark, "events", sf_dir)
    cents = round_cents("value")
    hourly = (ev.groupBy(F.col("event_type"),
                         F.date_format("ts", "yyyy-MM-dd").alias("day"),
                         F.floor(F.hour("ts") / 6).alias("blk"))
              .agg(F.sum(cents).cast("bigint").alias("bs")))
    mom = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bs").cast("bigint").alias("s1"),
        F.sum(F.col("bs") * F.col("bs")).cast("bigint").alias("s2"))
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    sig = F.sqrt((F.col("s2").cast("double") / nd - mu * mu)
                 * (nd / (nd - F.lit(1.0))))
    z = (hourly.join(F.broadcast(mom), "event_type")
         .select("event_type", "day", "blk",
                 F.col("bs").cast("double").alias("bsd"),
                 mu.alias("mu"), sig.alias("sig")))
    s = (F.when(F.col("bsd") < F.col("mu") - F.lit(0.6745) * F.col("sig"),
                F.lit("a"))
         .when(F.col("bsd") < F.col("mu"), F.lit("b"))
         .when(F.col("bsd") < F.col("mu") + F.lit(0.6745) * F.col("sig"),
               F.lit("c"))
         .otherwise(F.lit("d")))
    sym = z.select("event_type", "day", "blk", s.alias("s"))
    blk_min = [F.coalesce(F.min(F.when(F.col("blk") == i, F.col("s"))),
                          F.lit("_")) for i in range(4)]
    return (sym.groupBy("event_type", "day")
            .agg(F.concat(*blk_min).alias("sax_word")))


# ---------------------------------------------------------------------------
# seasonal strength via the hour-of-day ANOVA identity
# ---------------------------------------------------------------------------

_SEAS_STRENGTH_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), framed AS (
  SELECT event_type, hr, cents,
         SUM(cents) OVER w AS fsum, COUNT(*) OVER w AS fn
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
), det AS (
  -- detrended x24 stays BIGINT: 24*y - sum24 (centered-MA removal
  -- scaled by the frame length; variance ratios are scale-invariant)
  SELECT event_type, hour(hr) AS hod,
         CAST(24 * cents - fsum AS BIGINT) AS d24
  FROM framed WHERE fn = 24
), hod_sums AS (
  SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(d24) AS BIGINT) AS s1_h
  FROM det GROUP BY event_type, hod
), totals AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d24) AS BIGINT) AS s1,
         CAST(SUM(d24 * d24) AS BIGINT) AS s2
  FROM det GROUP BY event_type
), folds AS (
  SELECT event_type,
         list_sum(list(CAST(s1_h AS DOUBLE) * CAST(s1_h AS DOUBLE)
                       / CAST(n_h AS DOUBLE) ORDER BY hod)) AS ssb_term
  FROM hod_sums GROUP BY event_type
)
SELECT g.event_type, g.n AS n_points,
       1.0 - (CAST(g.s2 AS DOUBLE) - f.ssb_term)
             / (CAST(g.s2 AS DOUBLE)
                - CAST(g.s1 AS DOUBLE) * CAST(g.s1 AS DOUBLE)
                  / CAST(g.n AS DOUBLE)) AS seasonal_strength
FROM totals g JOIN folds f ON g.event_type = f.event_type
"""


@register("ts_seasonal_strength", oracle=_SEAS_STRENGTH_ORACLE)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength of daily seasonality per event type: detrend the hourly
    series with a centered 24-hour moving average, then measure how much
    of the remaining variance the HOUR-OF-DAY explains -- via the ANOVA
    identity strength = 1 - SSW/SST over hour-of-day groups, i.e. the
    R-squared of 'hour explains the detrended series' (the
    Hyndman-style seasonal-strength statistic a forecasting deploy
    checks before trusting ts_forecast_eval_wape's seasonal-naive
    baseline). The detrended value stays an exact BIGINT by scaling:
    24*y - sum24 (variance ratios are scale-invariant); SST and SSW
    assemble from integer moments with the one cross-group float term
    folded in FIXED hour order (the stat_anova_oneway_f rule).

    Scale shape: calendar-bounded hourly pre-agg -> one frame window ->
    two combinable groupBys (24 hod rows, 1 global row per type) -> a
    24-element ordered fold. Data-size-free past the first exchange."""
    ev = load_table(spark, "events", sf_dir)
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hr"))
              .agg(F.sum(iround(F.col("value") * 100))
                   .cast("bigint").alias("cents")))
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(-12, 11))
    framed = hourly.select(
        "event_type", "hr", "cents",
        F.sum("cents").over(w).alias("fsum"),
        F.count(F.lit(1)).over(w).alias("fn"))
    det = (framed.where(F.col("fn") == 24)
           .select("event_type", F.hour("hr").alias("hod"),
                   (24 * F.col("cents") - F.col("fsum")).cast("bigint")
                   .alias("d24")))
    hod_sums = det.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("d24").cast("bigint").alias("s1_h"))
    glob = det.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d24").cast("bigint").alias("s1"),
        F.sum(F.col("d24") * F.col("d24")).cast("bigint").alias("s2"))
    term = (F.col("s1_h").cast("double") * F.col("s1_h").cast("double")
            / F.col("n_h").cast("double"))
    folds = hod_sums.groupBy("event_type").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("hod"),
                                                 term.alias("t")))),
            F.lit(0.0),
            lambda acc, x: acc + x["t"]).alias("ssb_term"))
    sst = (F.col("s2").cast("double")
           - F.col("s1").cast("double") * F.col("s1").cast("double")
           / F.col("n").cast("double"))
    ssw = F.col("s2").cast("double") - F.col("ssb_term")
    return (glob.join(folds, "event_type")
            .select("event_type", F.col("n").alias("n_points"),
                    (F.lit(1.0) - ssw / sst).alias("seasonal_strength")))


# ---------------------------------------------------------------------------
# bitemporal as-of revision report
# ---------------------------------------------------------------------------

_BITEMP_ASOF = "2024-01-20 00:00:00"

_BITEMP_ORACLE = f"""
WITH base AS (
  SELECT event_id, ts, CAST(round(value * 100, 0) AS BIGINT) AS cents,
         ts AS knowledge_ts, 0 AS version
  FROM events WHERE event_type = 'purchase'
), corrections AS (
  -- every 50th purchase gets a +$10 correction that ARRIVES two days
  -- after the fact (late-arriving upstream fix, deterministic fixture)
  SELECT event_id, ts, cents + 1000 AS cents,
         ts + INTERVAL 2 DAY AS knowledge_ts, 1 AS version
  FROM base WHERE event_id % 50 = 0
), versions AS (
  SELECT * FROM base UNION ALL SELECT * FROM corrections
), known AS (
  SELECT event_id, ts, cents, version,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY version DESC) AS rn
  FROM versions WHERE knowledge_ts <= TIMESTAMP '{_BITEMP_ASOF}'
), final AS (
  SELECT event_id, ts, cents, version,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY version DESC) AS rn
  FROM versions
), a AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(cents) AS BIGINT) AS rev_as_of_cents,
         CAST(COUNT(*) FILTER (WHERE version = 1) AS BIGINT)
           AS n_corrections_visible
  FROM known WHERE rn = 1 GROUP BY date_trunc('day', ts)
), f AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(cents) AS BIGINT) AS rev_final_cents,
         CAST(COUNT(*) FILTER (WHERE version = 1) AS BIGINT)
           AS n_corrections_total
  FROM final WHERE rn = 1 GROUP BY date_trunc('day', ts)
)
SELECT f.day, a.rev_as_of_cents, f.rev_final_cents,
       CAST(f.rev_final_cents - a.rev_as_of_cents AS BIGINT)
         AS revision_cents,
       a.n_corrections_visible, f.n_corrections_total
FROM f JOIN a ON f.day = a.day
"""


@register("ts_bitemporal_asof_revision", oracle=_BITEMP_ORACLE)
def ts_bitemporal_asof_revision(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """BITEMPORAL revenue: what we BELIEVED each day's purchase revenue
    was as of a knowledge cutoff, next to what it finally became after
    late-arriving corrections -- the two-timeline (valid time vs
    transaction time) query every restated-metrics postmortem needs,
    and the reason serious warehouses version facts instead of
    updating them in place. The fixture plants a +$10 correction on
    every 50th purchase arriving TWO DAYS late; the as-of view picks
    each event's latest version whose knowledge timestamp precedes the
    cutoff, the final view picks the overall latest; the report shows
    per valid-day revenue under both timelines plus the revision and
    correction visibility counts. All exact cents.

    Scale shape: version picking is an event-keyed window (latest of
    <= 2 versions -- the scd2_dimension_merge discipline); daily rollups
    are combinable; the two timelines join on the calendar-bounded day
    grain."""
    ev = load_table(spark, "events", sf_dir) \
        .where(F.col("event_type") == "purchase")
    base = ev.select(
        "event_id", "ts",
        round_cents("value").alias("cents"),
        F.col("ts").alias("knowledge_ts"), F.lit(0).alias("version"))
    corrections = (base.where(F.col("event_id") % 50 == 0)
                   .select("event_id", "ts",
                           (F.col("cents") + 1000).alias("cents"),
                           (F.col("knowledge_ts")
                            + F.expr("INTERVAL 2 DAY"))
                           .alias("knowledge_ts"),
                           F.lit(1).alias("version")))
    versions = base.unionByName(corrections)
    w = Window.partitionBy("event_id").orderBy(F.col("version").desc())

    def latest(df):
        return (df.select("event_id", "ts", "cents", "version",
                          F.row_number().over(w).alias("rn"))
                .where(F.col("rn") == 1))

    asof = latest(versions.where(
        F.col("knowledge_ts") <= F.lit(_BITEMP_ASOF).cast("timestamp")))
    final = latest(versions)

    def daily(df, rev_name, corr_name):
        return (df.groupBy(F.date_trunc("day", "ts").alias("day"))
                .agg(F.sum("cents").cast("bigint").alias(rev_name),
                     F.count(F.when(F.col("version") == 1, 1))
                     .cast("bigint").alias(corr_name)))

    a = daily(asof, "rev_as_of_cents", "n_corrections_visible")
    f = daily(final, "rev_final_cents", "n_corrections_total")
    return (f.join(a, "day")
            .select("day", "rev_as_of_cents", "rev_final_cents",
                    (F.col("rev_final_cents") - F.col("rev_as_of_cents"))
                    .cast("bigint").alias("revision_cents"),
                    "n_corrections_visible", "n_corrections_total"))


# ---------------------------------------------------------------------------
# Haar wavelet detail energy by timescale
# ---------------------------------------------------------------------------

_HAAR_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hh,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, epoch_us(ts) // 3600000000
), levels(level, half_div, block_div) AS (
  VALUES (1, 1, 2), (2, 2, 4), (3, 4, 8), (4, 8, 16)
), coeffs AS (
  SELECT h.event_type, l.level, h.hh // l.block_div AS block,
         CAST(SUM(h.cents
                  * (1 - 2 * ((h.hh // l.half_div) % 2))) AS BIGINT) AS c
  FROM hourly h CROSS JOIN levels l
  GROUP BY h.event_type, l.level, h.hh // l.block_div
)
SELECT event_type, CAST(level AS BIGINT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       -- energy sums c^2 in HUGEINT (c^2 can pass int64 at high sf);
       -- the one int->double conversion is correctly rounded in both
       -- engines, so the DOUBLE projection is portable
       CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS detail_energy
FROM coeffs GROUP BY event_type, level
"""


@register("ts_haar_energy_levels", oracle=_HAAR_ORACLE)
def ts_haar_energy_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet detail energy per timescale: the hourly revenue
    series decomposed into 2/4/8/16-hour detail coefficients (each
    block's first-half-minus-second-half sum -- the unnormalized Haar
    detail), with per-(type, level) coefficient energy -- WHICH
    TIMESCALE carries the variance: burst-dominated types load level 1,
    daily-cycle types load the 8-16h levels; the multi-resolution
    screen before committing to any single-window statistic
    (ts_acf_multi_lag asks 'is it periodic', this asks 'how coarse').
    Coefficients are exact BIGINT signed sums (sign = 1 - 2*half-bit,
    pure integer arithmetic off the epoch-hour index); energy rides
    HUGEINT/decimal(38,0) and projects through ONE correctly-rounded
    int->double conversion.

    Scale shape: calendar-bounded hourly pre-agg; the x4 level fan-out
    is a broadcast spine; coefficient and energy folds are combinable
    groupBys over calendar-sized tables."""
    ev = load_table(spark, "events", sf_dir)
    cents = round_cents("value")
    hh = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                 / 3600000000).cast("bigint")
    hourly = (ev.select("event_type", hh.alias("hh"), cents.alias("c0"))
              .groupBy("event_type", "hh")
              .agg(F.sum("c0").cast("bigint").alias("cents")))
    levels = spark.createDataFrame(
        [(1, 1, 2), (2, 2, 4), (3, 4, 8), (4, 8, 16)],
        "level long, half_div long, block_div long")
    sign = 1 - 2 * (F.floor(F.col("hh") / F.col("half_div"))
                    .cast("bigint") % 2)
    coeffs = (hourly.crossJoin(F.broadcast(levels))
              .groupBy("event_type", "level",
                       F.floor(F.col("hh") / F.col("block_div"))
                       .cast("bigint").alias("block"))
              .agg(F.sum(F.col("cents") * sign).cast("bigint").alias("c")))
    return (coeffs.groupBy("event_type",
                           F.col("level").cast("bigint").alias("level"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
                 F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
                 .cast("double").alias("detail_energy")))


# ---------------------------------------------------------------------------
# log2-bucketed inter-event gap histogram
# ---------------------------------------------------------------------------

_GAP_HIST_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
  FROM events
), bucketed AS (
  -- power-of-two buckets (the HDR-histogram shape): floor(log2) moves
  -- only at exact powers of two, where log2 is exact in BOTH libms
  SELECT event_type,
         CAST(floor(log2(CAST(gap_us AS DOUBLE))) AS BIGINT) AS bucket
  FROM gaps WHERE gap_us IS NOT NULL AND gap_us > 0
)
SELECT event_type, bucket,
       CAST(power(2, bucket) AS BIGINT) AS lo_us,
       CAST(power(2, bucket + 1) AS BIGINT) AS hi_us,
       CAST(COUNT(*) AS BIGINT) AS n_gaps
FROM bucketed GROUP BY event_type, bucket
"""


@register("ts_gap_log_histogram", oracle=_GAP_HIST_ORACLE)
def ts_gap_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-style latency histogram of inter-event gaps: per event type,
    gap counts in power-of-two microsecond buckets -- the
    constant-relative-error histogram observability systems standardize
    on (fixed-width buckets either blur the fast tail or explode on the
    slow one; log2 buckets give ~1 significant digit everywhere).
    Gaps are exact epoch-microsecond differences off one per-type lag;
    floor(log2(gap)) changes value only AT exact powers of two, where
    log2 is exactly representable in both libms, so the bucketing is
    portable; bounds report as exact 2^k integers.

    Scale shape: the lag is (type, day)-subkeyed (parallel across the
    calendar) with a boundary stitch over the tiny per-day summary --
    the same gap multiset without the one-task-per-type funnel a plain
    per-type window creates (probed 15.7x at 100x before the split);
    the rollup is a combinable (type, bucket) groupBy."""
    ev = load_table(spark, "events", sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    # (type, DAY)-subkeyed lag + a boundary stitch over the per-day
    # summary: a plain per-type lag serializes each type into ONE task
    # (5 windows for the whole corpus -- probed 15.7x at 100x); the
    # same gap multiset splits into in-day gaps (150 parallel groups)
    # plus one boundary gap per consecutive data-day pair, computed
    # from the calendar-sized (type, day, first, last) table
    base = ev.select("event_type",
                     F.date_format("ts", "yyyy-MM-dd").alias("day"),
                     us.alias("us"), "ts", "event_id")
    wd = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    in_day = base.select("event_type",
                         (F.col("us") - F.lag("us").over(wd))
                         .alias("gap_us"))
    days = base.groupBy("event_type", "day").agg(
        F.min("us").alias("first_us"), F.max("us").alias("last_us"))
    wt = Window.partitionBy("event_type").orderBy("day")
    boundary = days.select(
        "event_type",
        (F.col("first_us") - F.lag("last_us").over(wt)).alias("gap_us"))
    gaps = in_day.unionByName(boundary)
    bucketed = (gaps.where(F.col("gap_us").isNotNull()
                           & (F.col("gap_us") > 0))
                .select("event_type",
                        F.floor(F.log2(F.col("gap_us").cast("double")))
                        .cast("bigint").alias("bucket")))
    return (bucketed.groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_gaps"))
            .select("event_type", "bucket",
                    F.pow(F.lit(2.0), F.col("bucket")).cast("bigint")
                    .alias("lo_us"),
                    F.pow(F.lit(2.0), F.col("bucket") + 1).cast("bigint")
                    .alias("hi_us"),
                    "n_gaps"))


# ---------------------------------------------------------------------------
# year-over-year growth
# ---------------------------------------------------------------------------

_YOY_ORACLE = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
)
SELECT yr, mo, rev AS rev_cents,
       lag(rev) OVER (PARTITION BY mo ORDER BY yr) AS prev_year_cents,
       CAST(rev AS DOUBLE)
         / CAST(lag(rev) OVER (PARTITION BY mo ORDER BY yr) AS DOUBLE)
         - 1.0 AS yoy_growth
FROM monthly
"""


@register("ts_yoy_growth", oracle=_YOY_ORACLE)
def ts_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per calendar month over the multi-year
    orders history -- the seasonality-honest growth comparison
    (ts_mom_growth's month-over-month conflates growth with seasonal
    swing; YoY compares each month to ITSELF a year earlier). The lag
    partitions BY MONTH-OF-YEAR and orders by year, so each of the 12
    partitions is a tiny independent series; first years report NULL
    (no base), exact cents until the one growth division.

    Scale shape: combinable (year, month) fold to ~84 rows; 12
    month-keyed lag partitions over that tiny table."""
    o = load_table(spark, "orders", sf_dir)
    cents = round_cents("o_totalprice")
    monthly = (o.groupBy(F.year("o_orderdate").cast("bigint").alias("yr"),
                         F.month("o_orderdate").cast("bigint").alias("mo"))
               .agg(F.sum(cents).cast("bigint").alias("rev")))
    w = Window.partitionBy("mo").orderBy("yr")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "yr", "mo", F.col("rev").alias("rev_cents"),
        prev.alias("prev_year_cents"),
        (F.col("rev").cast("double") / prev.cast("double") - F.lit(1.0))
        .alias("yoy_growth"))


# ---------------------------------------------------------------------------
# classical monthly seasonal indices
# ---------------------------------------------------------------------------

_SEAS_IDX_ORACLE = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
), agg AS (
  SELECT mo,
         CAST(COUNT(*) AS BIGINT) AS n_years,
         CAST(SUM(rev) AS BIGINT) AS mo_rev,
         CAST((SELECT SUM(rev) FROM monthly) AS BIGINT) AS tot_rev,
         CAST((SELECT COUNT(*) FROM monthly) AS BIGINT) AS n_cells
  FROM monthly GROUP BY mo
)
SELECT mo, n_years, mo_rev,
       -- index = month's avg cell / grand avg cell; >1 = high season
       (CAST(mo_rev AS DOUBLE) / CAST(n_years AS DOUBLE))
         / (CAST(tot_rev AS DOUBLE) / CAST(n_cells AS DOUBLE))
         AS seasonal_index
FROM agg
"""


@register("ts_seasonal_index_monthly", oracle=_SEAS_IDX_ORACLE)
def ts_seasonal_index_monthly(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Classical monthly seasonal indices over the multi-year orders
    history: each calendar month's average revenue relative to the
    grand monthly average (1.1 = structurally 10% above trend) -- the
    ratio-to-moving-average method's simple-mean form, and the index
    table a demand planner divides by BEFORE comparing months
    (ts_seasonal_strength asks IS there seasonality; this quantifies
    its monthly shape). Exact integer sums; two divisions in an
    identical tree.

    Scale shape: one (year, month) fold; 12-row aggregation; the grand
    totals broadcast as scalar subqueries."""
    o = load_table(spark, "orders", sf_dir)
    cents = round_cents("o_totalprice")
    monthly = (o.groupBy(F.year("o_orderdate").cast("bigint").alias("yr"),
                         F.month("o_orderdate").cast("bigint").alias("mo"))
               .agg(F.sum(cents).cast("bigint").alias("rev")))
    tot = monthly.agg(F.sum("rev").cast("bigint").alias("tot_rev"),
                      F.count(F.lit(1)).cast("bigint").alias("n_cells"))
    agg = (monthly.groupBy("mo")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_years"),
                F.sum("rev").cast("bigint").alias("mo_rev"))
           .crossJoin(F.broadcast(tot)))
    return agg.select(
        "mo", "n_years", "mo_rev",
        ((F.col("mo_rev").cast("double") / F.col("n_years").cast("double"))
         / (F.col("tot_rev").cast("double")
            / F.col("n_cells").cast("double"))).alias("seasonal_index"))


# ---------------------------------------------------------------------------
# permutation entropy of the hourly series
# ---------------------------------------------------------------------------

_PERM_ENT_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), lagged AS (
  SELECT event_type,
         cents AS a,
         lead(cents, 1) OVER w AS b,
         lead(cents, 2) OVER w AS c
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr)
), patterns AS (
  -- ordinal pattern of (a,b,c): ties break toward the earlier index
  -- (the standard Bandt-Pompe convention), spelled as one CASE ladder
  SELECT event_type,
         CASE WHEN a <= b AND b <= c THEN '012'
              WHEN a <= c AND c < b  THEN '021'
              WHEN b < a  AND a <= c THEN '102'
              WHEN c < a  AND a <= b THEN '120'
              WHEN b <= c AND c < a  THEN '201'
              ELSE '210' END AS pat
  FROM lagged WHERE b IS NOT NULL AND c IS NOT NULL
), counts AS (
  SELECT event_type, pat, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM patterns GROUP BY event_type, pat
), tot AS (
  SELECT event_type, pat, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM counts
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_windows,
       CAST(COUNT(*) AS BIGINT) AS n_patterns,
       -- ordered fold over <= 6 patterns (the ANOVA rule); /ln(6)
       -- normalizes to [0,1]
       round(-list_sum(list((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                            * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                            ORDER BY pat))
             / ln(6.0), 6) AS perm_entropy_norm
FROM tot GROUP BY event_type
"""


@register("ts_permutation_entropy", oracle=_PERM_ENT_ORACLE)
def ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt-Pompe, order 3) of each type's hourly
    series: the Shannon entropy of ORDINAL PATTERNS of three
    consecutive points, normalized by ln 6 -- the
    complexity-vs-determinism dial (0 = monotone/deterministic motion,
    1 = pattern-uniform noise) that is robust to any monotone
    transformation of the values, unlike every moment-based statistic
    in the family. Patterns come from two leads and a six-branch CASE
    ladder on exact integers (ties break toward the earlier index, the
    standard convention, stated identically in both engines); the one
    cross-pattern float fold is FIXED-ORDER (the ANOVA rule) and rounds
    6 dp (ln).

    Scale shape: calendar-bounded series; (type, day)-style lead
    windows over ~700 rows/type; folds over <= 6 pattern rows."""
    hourly = hourly_cents(load_table(spark, "events", sf_dir))
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = hourly.select(
        "event_type", F.col("cents").alias("a"),
        F.lead("cents", 1).over(w).alias("b"),
        F.lead("cents", 2).over(w).alias("c"))
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    pat = (F.when((a <= b) & (b <= c), F.lit("012"))
           .when((a <= c) & (c < b), F.lit("021"))
           .when((b < a) & (a <= c), F.lit("102"))
           .when((c < a) & (a <= b), F.lit("120"))
           .when((b <= c) & (c < a), F.lit("201"))
           .otherwise(F.lit("210")))
    patterns = (lagged.where(b.isNotNull() & c.isNotNull())
                .select("event_type", pat.alias("pat")))
    counts = patterns.groupBy("event_type", "pat").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = counts.select(
        "event_type", "pat", "cnt",
        F.sum("cnt").over(Window.partitionBy("event_type"))
        .cast("bigint").alias("n"))
    share = F.col("cnt").cast("double") / F.col("n").cast("double")
    term = share * F.log(share)
    return (tot.select("event_type", "pat", "n", term.alias("t"))
            .groupBy("event_type")
            .agg(F.max("n").cast("bigint").alias("n_windows"),
                 F.count(F.lit(1)).cast("bigint").alias("n_patterns"),
                 F.round(-F.aggregate(
                     F.array_sort(F.collect_list(
                         F.struct(F.col("pat"), F.col("t").alias("v")))),
                     F.lit(0.0), lambda acc, x: acc + x["v"])
                     / F.log(F.lit(6.0)), 6)
                 .alias("perm_entropy_norm")))
