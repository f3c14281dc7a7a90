"""Event-sequence operators: sessionised paths, funnels, retention
cohorts, RFM segments and next-event models over ``events``."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.bucketed import bucketed_order
from lambdatotheslaughter_spark.determinism import round_cents
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table


# ---------------------------------------------------------------------------
# Kaplan–Meier survival of view -> purchase conversion
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH horizon AS (
  SELECT CAST(MAX(ts) AS DATE) AS end_day FROM events
), per_user AS (
  SELECT user_id,
         CAST(MIN(ts) AS DATE) AS t0,
         CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS DATE)
           AS tp
  FROM events GROUP BY user_id
), obs AS (
  SELECT user_id,
         CASE WHEN tp IS NOT NULL AND tp >= t0
              THEN datediff('day', t0, tp)
              ELSE datediff('day', t0, (SELECT end_day FROM horizon))
         END AS tt,
         (tp IS NOT NULL AND tp >= t0) AS ev
  FROM per_user
), days AS (
  SELECT CAST(tt AS BIGINT) AS tt,
         CAST(COUNT(*) FILTER (WHERE ev) AS BIGINT) AS d,
         CAST(COUNT(*) FILTER (WHERE NOT ev) AS BIGINT) AS c
  FROM obs GROUP BY tt
), tot AS (
  SELECT CAST(SUM(d + c) AS BIGINT) AS n FROM days
), risk AS (
  SELECT tt, d, c,
         tot.n - CAST(COALESCE(SUM(d + c) OVER (ORDER BY tt
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS BIGINT)
           AS n_at_risk
  FROM days CROSS JOIN tot
), km AS (
  SELECT tt, d, c, n_at_risk,
         -- d = n_at_risk means survival hits exactly 0: the frozen
         -- -1e9 sentinel underflows exp() to 0.0 in both engines
         SUM(CASE WHEN d >= n_at_risk THEN -1000000000.0
                  WHEN d > 0
                  THEN ln(1.0 - CAST(d AS DOUBLE)
                                / CAST(n_at_risk AS DOUBLE))
                  ELSE 0.0 END)
           OVER (ORDER BY tt ROWS UNBOUNDED PRECEDING) AS lsum
  FROM risk
)
SELECT tt AS day, n_at_risk, d AS n_events, c AS n_censored,
       round(exp(lsum), 6) AS km_survival
FROM km WHERE d > 0
"""


def _first_purchase_risk_days(spark: SparkSession,
                              sf_dir: str) -> tuple[DataFrame, Column]:
    """Risk sets for time-to-first-purchase, in days tt from a user's
    first event: (days, n_at_risk). days holds per tt the d users who
    convert and the c censored at the observation horizon, crossed with
    their total n; n_at_risk is n minus the exclusive prefix of d + c."""
    ev = load_table(spark, "events", sf_dir)
    horizon = ev.agg(F.max(F.col("ts").cast("date")).alias("end_day"))
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts").cast("date"))).alias("tp"))
    is_ev = F.col("tp").isNotNull() & (F.col("tp") >= F.col("t0"))
    obs = (per_user.crossJoin(F.broadcast(horizon))
           .select(F.when(is_ev, F.datediff("tp", "t0"))
                   .otherwise(F.datediff("end_day", "t0"))
                   .cast("bigint").alias("tt"),
                   is_ev.alias("ev")))
    days = obs.groupBy("tt").agg(
        F.count(F.when(F.col("ev"), 1)).cast("bigint").alias("d"),
        F.count(F.when(~F.col("ev"), 1)).cast("bigint").alias("c"))
    tot = days.agg(F.sum(F.col("d") + F.col("c")).cast("bigint")
                   .alias("n"))
    wb = Window.orderBy("tt").rowsBetween(Window.unboundedPreceding, -1)
    n_at_risk = (F.col("n")
                 - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wb),
                              F.lit(0)).cast("bigint"))
    return days.crossJoin(F.broadcast(tot)), n_at_risk


@register("seq_survival_km", oracle=_KM_ORACLE)
def seq_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase (days
    from a user's first event; users who never purchase are censored at
    the observation horizon) — THE time-to-event estimator behind
    conversion-lag and churn dashboards, with the risk set handled
    correctly where a naive conversion-rate-by-day silently drops
    censored users. Counts collapse to per-day (events, censored);
    n_at_risk is total minus the exclusive prefix; S(t) = Π(1 − dⱼ/nⱼ)
    via exp of the running ln sum — the window order is deterministic,
    both engines fold the same doubles in the same sequence, and the
    one transcendental chain rounds 6 dp at the end.

    Scale shape: one combinable user-grain fold, one per-day collapse
    (calendar-bounded domain), windows over that bounded domain; the
    horizon broadcasts as one row."""
    days, n_at_risk = _first_purchase_risk_days(spark, sf_dir)
    wc = Window.orderBy("tt").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    risk = days.select("tt", "d", "c", n_at_risk.alias("n_at_risk"))
    lterm = (F.when(F.col("d") >= F.col("n_at_risk"),
                    F.lit(-1000000000.0))
             .when(F.col("d") > 0,
                   F.log(F.lit(1.0) - F.col("d").cast("double")
                         / F.col("n_at_risk").cast("double")))
             .otherwise(F.lit(0.0)))
    km = risk.select("tt", "d", "c", "n_at_risk",
                     F.sum(lterm).over(wc).alias("lsum"))
    return (km.where(F.col("d") > 0)
            .select(F.col("tt").alias("day"), "n_at_risk",
                    F.col("d").alias("n_events"),
                    F.col("c").alias("n_censored"),
                    F.round(F.exp("lsum"), 6).alias("km_survival")))


# ---------------------------------------------------------------------------
# market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

_MB_MIN_PAIR = 2

_BASKET_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n_b AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nb FROM baskets
), item AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_i
  FROM baskets GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_MB_MIN_PAIR}
)
SELECT p.pa AS part_a, p.pb AS part_b, p.n_pair,
       ia.n_i AS n_a, ib.n_i AS n_b,
       CAST(p.n_pair AS DOUBLE) / CAST(n_b.nb AS DOUBLE) AS support,
       CAST(p.n_pair AS DOUBLE) / CAST(ia.n_i AS DOUBLE)
         AS confidence_a_to_b,
       CAST(p.n_pair AS DOUBLE) * CAST(n_b.nb AS DOUBLE)
         / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)) AS lift
FROM pairs p
JOIN item ia ON p.pa = ia.l_partkey
JOIN item ib ON p.pb = ib.l_partkey
CROSS JOIN n_b
"""


@register("seq_market_basket_rules", oracle=_BASKET_ORACLE)
def seq_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: pair support,
    confidence(A→B) and lift for every co-purchased part pair seen at
    least twice — the Apriori level-2 output that drives
    also-bought recommendations and store layout, and the PROBABILISTIC
    completion of graph_bipartite_copurchase's raw projection (lift > 1
    is the signal; raw co-counts just find popular items). Counts exact,
    three divisions per rule.

    Scale shape: the pair expansion is basket-keyed (bounded by basket
    size, ≤21 pairs per 7-line order — the copurchase discipline); item
    and basket totals are combinable folds; the rule join decorates
    pair rows with two broadcast-scale item dims."""
    li = load_table(spark, "lineitem", sf_dir)
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    nb = baskets.agg(F.countDistinct("l_orderkey").cast("bigint")
                     .alias("nb"))
    item = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .groupBy(F.col("a.l_partkey").alias("pa"),
                      F.col("b.l_partkey").alias("pb"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
             .where(F.col("n_pair") >= _MB_MIN_PAIR))
    ia = item.select(F.col("l_partkey").alias("pa"),
                     F.col("n_i").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("pb"),
                     F.col("n_i").alias("n_b"))
    return (pairs.join(ia, "pa").join(ib, "pb")
            .crossJoin(F.broadcast(nb))
            .select(F.col("pa").alias("part_a"),
                    F.col("pb").alias("part_b"), "n_pair", "n_a", "n_b",
                    (F.col("n_pair").cast("double")
                     / F.col("nb").cast("double")).alias("support"),
                    (F.col("n_pair").cast("double")
                     / F.col("n_a").cast("double"))
                    .alias("confidence_a_to_b"),
                    (F.col("n_pair").cast("double")
                     * F.col("nb").cast("double")
                     / (F.col("n_a").cast("double")
                        * F.col("n_b").cast("double"))).alias("lift")))


# ---------------------------------------------------------------------------
# daily conversion hazard rate (KM companion)
# ---------------------------------------------------------------------------

_HAZ_W = 7

_HAZARD_ORACLE = f"""
WITH horizon AS (
  SELECT CAST(MAX(ts) AS DATE) AS end_day FROM events
), per_user AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS t0,
         CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS DATE)
           AS tp
  FROM events GROUP BY user_id
), obs AS (
  SELECT CASE WHEN tp IS NOT NULL AND tp >= t0
              THEN datediff('day', t0, tp)
              ELSE datediff('day', t0, (SELECT end_day FROM horizon))
         END AS tt,
         (tp IS NOT NULL AND tp >= t0) AS ev
  FROM per_user
), days AS (
  SELECT CAST(tt AS BIGINT) AS tt,
         CAST(COUNT(*) FILTER (WHERE ev) AS BIGINT) AS d,
         CAST(COUNT(*) FILTER (WHERE NOT ev) AS BIGINT) AS c
  FROM obs GROUP BY tt
), tot AS (
  SELECT CAST(SUM(d + c) AS BIGINT) AS n FROM days
), risk AS (
  SELECT tt, d, c,
         tot.n - CAST(COALESCE(SUM(d + c) OVER (ORDER BY tt
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS BIGINT)
           AS n_at_risk
  FROM days CROSS JOIN tot
)
SELECT tt AS day, n_at_risk, d AS n_events,
       CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS hazard,
       -- 7-day centered smoothed hazard: EXACT integer window sums
       CAST(SUM(d) OVER ws AS DOUBLE)
         / CAST(SUM(n_at_risk) OVER ws AS DOUBLE) AS hazard_smoothed
FROM risk
WINDOW ws AS (ORDER BY tt ROWS BETWEEN {_HAZ_W // 2} PRECEDING
                                   AND {_HAZ_W // 2} FOLLOWING)
"""


@register("seq_hazard_rate_daily", oracle=_HAZARD_ORACLE)
def seq_hazard_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The discrete hazard rate h(t) = d_t / n_at_risk(t) for
    time-to-first-purchase, raw and 7-day-window smoothed (aggregated
    events over aggregated risk sets — the actuarial smoothing that
    stays a ratio of EXACT integer sums, not an average of ratios) —
    WHEN users convert, where seq_survival_km reports how many remain;
    the pair is how conversion-lag dashboards are actually read.
    Same risk-set construction as the KM op, shared convention.

    Scale shape: user-grain fold; calendar-bounded day domain; two
    windows over that bounded domain."""
    days, n_at_risk = _first_purchase_risk_days(spark, sf_dir)
    risk = days.select("tt", "d", n_at_risk.alias("n_at_risk"))
    ws = Window.orderBy("tt").rowsBetween(-(_HAZ_W // 2), _HAZ_W // 2)
    return risk.select(
        F.col("tt").alias("day"), "n_at_risk",
        F.col("d").alias("n_events"),
        (F.col("d").cast("double") / F.col("n_at_risk").cast("double"))
        .alias("hazard"),
        (F.sum("d").over(ws).cast("double")
         / F.sum("n_at_risk").over(ws).cast("double"))
        .alias("hazard_smoothed"))


# ---------------------------------------------------------------------------
# inter-purchase time quantiles
# ---------------------------------------------------------------------------

_INTERPURCHASE_ORACLE = """
WITH p AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE event_type = 'purchase'
), g AS (
  SELECT CAST(datediff('day', date_trunc('day', prev),
                       date_trunc('day', ts)) AS BIGINT) AS gap
  FROM p WHERE prev IS NOT NULL
), dom AS (
  SELECT gap, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY gap
), cum AS (
  SELECT gap, c,
         CAST(SUM(c) OVER (ORDER BY gap ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cc,
         (SELECT CAST(SUM(c) AS BIGINT) FROM dom) AS n,
         (SELECT CAST(SUM(gap * c) AS BIGINT) FROM dom) AS sg
  FROM dom
)
SELECT MAX(n) AS n_gaps,
       CAST(MIN(gap) FILTER (WHERE cc >= (1 * n + 3) // 4) AS BIGINT)
         AS p25_days,
       CAST(MIN(gap) FILTER (WHERE cc >= (1 * n + 1) // 2) AS BIGINT)
         AS p50_days,
       CAST(MIN(gap) FILTER (WHERE cc >= (3 * n + 3) // 4) AS BIGINT)
         AS p75_days,
       CAST(MIN(gap) FILTER (WHERE cc >= (9 * n + 9) // 10) AS BIGINT)
         AS p90_days,
       round(CAST(MAX(sg) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6)
         AS mean_days
FROM cum
"""


@register("seq_interpurchase_quantiles", oracle=_INTERPURCHASE_ORACLE)
def seq_interpurchase_quantiles(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Distribution of the time BETWEEN a user's consecutive purchases
    (whole calendar days): exact discrete p25/p50/p75/p90 and the mean —
    the repeat-purchase-cadence distribution behind seq_reorder_cadence's
    per-entity view, and the number a retention model calibrates
    against. Gaps are exact integer day differences off a user-ordered
    lag; the percentiles are rank-picks over the BOUNDED gap DOMAIN
    (0…365 distinct values at any corpus size), so no global row
    ranking ever happens: cumulate domain counts, pick the first value
    whose cumulative count reaches ceil(p·n) by pure integer
    arithmetic (the agg_percentile_disc_exact ceil identity).

    Scale shape: one user-partitioned lag window (key-parallel), one
    combinable domain collapse, one cumulative window over the ≤366-row
    domain, one conditional-MIN fold to a single row."""
    ev = (load_table(spark, "events", sf_dir)
          .where(F.col("event_type") == "purchase"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select("user_id", "ts", F.lag("ts").over(w).alias("prev"))
    g = (p.where(F.col("prev").isNotNull())
         .select(F.datediff(F.date_trunc("day", F.col("ts")),
                            F.date_trunc("day", F.col("prev")))
                 .cast("bigint").alias("gap")))
    dom = g.groupBy("gap").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = dom.agg(F.sum("c").cast("bigint").alias("n"),
                  F.sum(F.col("gap") * F.col("c")).cast("bigint")
                  .alias("sg"))
    wd = (Window.orderBy("gap")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (dom.select("gap", "c",
                      F.sum("c").over(wd).cast("bigint").alias("cc"))
           .crossJoin(F.broadcast(tot)))

    def pick(num: int, den: int, name: str):
        thresh = F.expr(f"({num} * n + {num}) div {den}")
        return (F.min(F.when(F.col("cc") >= thresh, F.col("gap")))
                .cast("bigint").alias(name))

    return cum.agg(
        F.max("n").alias("n_gaps"),
        pick(1, 4, "p25_days"), pick(1, 2, "p50_days"),
        pick(3, 4, "p75_days"), pick(9, 10, "p90_days"),
        F.round(F.max("sg").cast("double") / F.max("n").cast("double"), 6)
        .alias("mean_days"))


# ---------------------------------------------------------------------------
# per-user path-entropy histogram
# ---------------------------------------------------------------------------

_PATH_ENTROPY_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
), pairs AS (
  SELECT user_id, event_type || '>' || nxt AS pair
  FROM seq WHERE nxt IS NOT NULL
), pc AS (
  SELECT user_id, pair, CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs GROUP BY user_id, pair
), per_user AS (
  -- H = ln(n) - (1/n) * sum c*ln(c); each c*ln(c) term quantized 1e-6
  SELECT user_id,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0)
                           AS BIGINT)) AS BIGINT) AS slc
  FROM pc GROUP BY user_id
), h AS (
  SELECT user_id, n,
         ln(CAST(n AS DOUBLE))
           - CAST(slc AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS ent
  FROM per_user WHERE n >= 5
)
SELECT CAST(floor(ent / 0.25) AS BIGINT) AS entropy_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       round(MIN(ent), 6) AS min_entropy,
       round(MAX(ent), 6) AS max_entropy
FROM h GROUP BY CAST(floor(ent / 0.25) AS BIGINT)
ORDER BY entropy_bucket
"""


@register("seq_user_path_entropy", oracle=_PATH_ENTROPY_ORACLE)
def seq_user_path_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-user PATH ENTROPY: the Shannon entropy of each
    user's event-type transition distribution (≥5 transitions), bucketed
    at 0.25 nats — the behavioral-diversity readout behind
    seq_markov_transitions' corpus-level chain: bots and single-habit
    users pool near zero, exploratory users near ln(25). Uses the
    plug-in identity H = ln n − (Σ c·ln c)/n so the per-user fold needs
    ONE quantized transcendental per (user, pair) row (exact BIGINT
    sums; ln n enters once per user in the final tree), and the bucket
    is an integer floor.

    Scale shape: one user-partitioned lead window (key-parallel), one
    (user, pair) fold, one user fold, one ≤14-bucket histogram fold —
    no global windows anywhere."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lead("event_type").over(w).alias("nxt"))
    pairs = (seq.where(F.col("nxt").isNotNull())
             .select("user_id",
                     F.concat("event_type", F.lit(">"), "nxt")
                     .alias("pair")))
    pc = (pairs.groupBy("user_id", "pair")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    lnq = F.round(F.log(F.col("c").cast("double")) * 1000000.0, 0) \
        .cast("bigint")
    per_user = (pc.groupBy("user_id")
                .agg(F.sum("c").cast("bigint").alias("n"),
                     F.sum(F.col("c") * lnq).cast("bigint").alias("slc")))
    ent = (F.log(F.col("n").cast("double"))
           - F.col("slc").cast("double") / F.col("n").cast("double")
             / 1000000.0)
    h = per_user.where(F.col("n") >= 5).select(ent.alias("ent"))
    return (h.groupBy(F.floor(F.col("ent") / 0.25).cast("bigint")
                      .alias("entropy_bucket"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 F.round(F.min("ent"), 6).alias("min_entropy"),
                 F.round(F.max("ent"), 6).alias("max_entropy"))
            .orderBy("entropy_bucket"))


# ---------------------------------------------------------------------------
# next-event prediction evaluation (Markov argmax accuracy)
# ---------------------------------------------------------------------------

_NEXT_EVENT_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS cur,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), tr AS (
  SELECT prev, cur FROM seq WHERE prev IS NOT NULL
), matrix AS (
  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c
  FROM tr GROUP BY prev, cur
), pred AS (
  SELECT prev, min(cur) AS predicted_next
  FROM matrix m
  WHERE c = (SELECT MAX(c) FROM matrix x WHERE x.prev = m.prev)
  GROUP BY prev
), scored AS (
  SELECT tr.prev, CAST(COUNT(*) AS BIGINT) AS n_transitions,
         CAST(COUNT(*) FILTER (WHERE tr.cur = pred.predicted_next)
              AS BIGINT) AS n_correct
  FROM tr JOIN pred ON pred.prev = tr.prev
  GROUP BY tr.prev
)
SELECT scored.prev AS prev_type, pred.predicted_next,
       scored.n_transitions, scored.n_correct,
       round(CAST(scored.n_correct AS DOUBLE)
             / CAST(scored.n_transitions AS DOUBLE), 6) AS accuracy
FROM scored JOIN pred ON pred.prev = scored.prev
ORDER BY prev_type
"""


@register("seq_next_event_prediction_eval", oracle=_NEXT_EVENT_ORACLE)
def seq_next_event_prediction_eval(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Backtest of the Markov next-event baseline: predict each user's
    next event type as the ARGMAX of the global transition matrix
    (lexicographic tie-break) and score per-antecedent accuracy — the
    eval seq_markov_transitions never runs on itself, and the floor any
    fancier sequence model must beat before it ships. Transition
    counts are exact; the argmax is a max-count join with a
    deterministic tie-break; accuracy is one division.

    Scale shape: one user-partitioned lag window (key-parallel), one
    ≤25-row matrix fold, a broadcast argmax join back onto the
    transition stream, one 5-row fold."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (ev.select(F.col("event_type").alias("cur"),
                    F.lag("event_type").over(w).alias("prev"))
          .where(F.col("prev").isNotNull()))
    matrix = (tr.groupBy("prev", "cur")
              .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    mx = matrix.groupBy("prev").agg(F.max("c").alias("mc"))
    pred = (matrix.join(mx, "prev")
            .where(F.col("c") == F.col("mc"))
            .groupBy("prev")
            .agg(F.min("cur").alias("predicted_next")))
    scored = (tr.join(F.broadcast(pred), "prev")
              .groupBy("prev", "predicted_next")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
                   F.count(F.when(F.col("cur") == F.col("predicted_next"),
                                  1)).cast("bigint").alias("n_correct")))
    return (scored.select(
        F.col("prev").alias("prev_type"), "predicted_next",
        "n_transitions", "n_correct",
        F.round(F.col("n_correct").cast("double")
                / F.col("n_transitions").cast("double"), 6)
        .alias("accuracy"))
        .orderBy("prev_type"))


_FUNNEL_ORACLE = """
WITH steps AS (
  SELECT user_id,
         MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
         MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
         MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS step_view,
       COUNT(CASE WHEN t_click > t_view THEN 1 END) AS step_click_after_view,
       COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
         AS step_full_funnel
FROM steps
"""


@register("funnel_view_click_purchase", oracle=_FUNNEL_ORACLE)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose first view precedes their first click
    precedes their first purchase. One groupBy with conditional MIN per
    step — a single shuffle however many steps, the scalable funnel shape
    (per-user event sorting never materializes)."""
    ev = load_table(spark, "events", sf_dir)

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    steps = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"))
    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("step_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
         .alias("step_click_after_view"),
        F.count(F.when((F.col("t_purchase") > F.col("t_click"))
                       & (F.col("t_click") > F.col("t_view")), 1))
         .alias("step_full_funnel"),
    )


_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
       COUNT(DISTINCT user_id) AS cohort_size,
       COUNT(DISTINCT CASE WHEN day_offset = 1 THEN user_id END) AS d1,
       COUNT(DISTINCT CASE WHEN day_offset = 7 THEN user_id END) AS d7,
       COUNT(DISTINCT CASE WHEN day_offset = 14 THEN user_id END) AS d14
FROM activity
GROUP BY cohort_day
"""


@register("retention_cohorts", oracle=_RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted again
    at day +1/+7/+14. Two shuffles total (first-day computation, cohort
    rollup) — no per-user timelines are ever materialized."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.to_date("ts").alias("day"))
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (ev.join(firsts, "user_id")
                .select("user_id", "cohort_day",
                        F.datediff("day", "cohort_day").alias("day_offset"))
                .distinct())

    def retained(n):
        return F.countDistinct(
            F.when(F.col("day_offset") == n, F.col("user_id")))

    return (activity.groupBy("cohort_day")
            .agg(F.countDistinct("user_id").alias("cohort_size"),
                 retained(1).alias("d1"),
                 retained(7).alias("d7"),
                 retained(14).alias("d14"))
            .withColumn("cohort_day", F.col("cohort_day").cast("string")))


_SEQ_PATTERN_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, COUNT(*) AS n_matches,
       CAST(MIN(event_id) AS BIGINT) AS first_match_event
FROM ordered
WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
GROUP BY user_id
"""


@register("seq_pattern_match", oracle=_SEQ_PATTERN_ORACLE)
def seq_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern matching: strictly consecutive view→click→
    purchase triples in each user's event stream (MATCH_RECOGNIZE-lite,
    expressed with lead) — stricter than the funnel, which allows
    arbitrary events between steps. Ordering is (ts, event_id): unique,
    so both engines see identical sequences. One shuffle on user_id."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "event_id", "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"))
    return (o.where((F.col("event_type") == "view") & (F.col("t1") == "click")
                    & (F.col("t2") == "purchase"))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.min("event_id").cast("bigint").alias("first_match_event")))


# ---------------------------------------------------------------------------
# Markov transition matrix of user journeys
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), c AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT from_type, to_type, n_transitions,
       CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
         AS from_total,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
         AS p_transition
FROM c
"""


@register("seq_markov_transitions", oracle=_MARKOV_ORACLE)
def seq_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user journeys — counts
    and row-normalized probabilities of event_type → event_type steps
    within each user's time-ordered stream; THE product-analytics flow
    diagram ("after an error, 23% of next actions are churn-shaped")
    and the generative model behind session simulators. The lag
    ordering carries the (ts, event_id) total-order tiebreak so
    same-timestamp events sequence identically in both engines; counts
    are exact; each probability is one int/int division over the
    25-cell matrix.

    Scale shape: one (user) window shuffle for the lag, one combinable
    25-cell groupBy, marginals as windows over the cell table."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lag("event_type").over(w).alias("prev_type"))
    c = (seq.where(F.col("prev_type").isNotNull())
         .groupBy(F.col("prev_type").alias("from_type"),
                  F.col("event_type").alias("to_type"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions")))
    wf = Window.partitionBy("from_type")
    tot = F.sum("n_transitions").over(wf).cast("bigint")
    return c.select(
        "from_type", "to_type", "n_transitions",
        tot.alias("from_total"),
        (F.col("n_transitions").cast("double") / tot.cast("double"))
        .alias("p_transition"))


# ---------------------------------------------------------------------------
# funnel time-to-convert quantiles
# ---------------------------------------------------------------------------

_TTC_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), conv AS (
  SELECT v.user_id,
         CAST(epoch_us(MIN(e.ts)) - epoch_us(v.v_ts) AS BIGINT)
           AS elapsed_us,
         date_trunc('week', v.v_ts) AS week
  FROM v JOIN events e
    ON e.user_id = v.user_id AND e.event_type = 'purchase'
       AND e.ts >= v.v_ts
  GROUP BY v.user_id, v.v_ts
), ranked AS (
  SELECT week, elapsed_us,
         row_number() OVER (PARTITION BY week ORDER BY elapsed_us) AS rn,
         COUNT(*) OVER (PARTITION BY week) AS n
  FROM conv
)
SELECT week, CAST(MAX(n) AS BIGINT) AS n_converted,
       CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN elapsed_us END) // 1000000
            AS BIGINT) AS median_s,
       CAST(MIN(CASE WHEN rn = (9 * n + 9) // 10 THEN elapsed_us END)
            // 1000000 AS BIGINT) AS p90_s
FROM ranked GROUP BY week
"""


@register("seq_funnel_time_to_convert", oracle=_TTC_ORACLE)
def seq_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel LATENCY: for each user whose first 'view' is later followed
    by a 'purchase', the elapsed seconds between them, rolled up per
    first-view week as converting-user count plus DISCRETE median and
    p90 -- funnel_view_click_purchase says HOW MANY convert; this says
    HOW LONG conversion takes, the number a checkout-flow change
    actually moves. Quantiles are rank-picked integers (the
    ts_outlier_iqr rule: values at sorted positions ceil(n/2) and
    ceil(9n/10)), elapsed times are exact epoch-second differences --
    the whole output is BIGINTs and week timestamps, hash-exact with no
    float anywhere.

    Elapsed times rank in exact MICROSECONDS (epoch_us both engines --
    per-timestamp second-flooring would shift ranks) and report floored
    to whole seconds.

    Scale shape: first-view extraction is one combinable user-keyed
    groupBy; the purchase match is a user-keyed equi-join (both sides
    hash the same key, no broadcast needed at any scale); quantile
    windows partition by WEEK, so no global sort -- per-week two-pass
    bucketed rank is the documented swap if single weeks outgrow a
    partition."""
    ev = load_table(spark, "events", sf_dir)
    v = (ev.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("v_ts")))
    p = ev.where(F.col("event_type") == "purchase") \
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    conv = (v.join(p, (F.col("user_id") == F.col("p_user"))
                   & (F.col("p_ts") >= F.col("v_ts")))
            .groupBy("user_id", "v_ts")
            .agg(F.min("p_ts").alias("c_ts"))
            .select(F.date_trunc("week", "v_ts").alias("week"),
                    (F.unix_micros(F.col("c_ts").cast("timestamp"))
                     - F.unix_micros(F.col("v_ts").cast("timestamp")))
                    .cast("bigint").alias("elapsed_us")))
    w = Window.partitionBy("week").orderBy("elapsed_us")
    ranked = conv.select(
        "week", "elapsed_us",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("week")).alias("n"))
    med = F.min(F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2),
                       F.col("elapsed_us")))
    p90 = F.min(F.when(F.col("rn") == F.floor((9 * F.col("n") + 9) / 10),
                       F.col("elapsed_us")))
    return (ranked.groupBy("week")
            .agg(F.max("n").cast("bigint").alias("n_converted"),
                 F.floor(med / 1000000).cast("bigint").alias("median_s"),
                 F.floor(p90 / 1000000).cast("bigint").alias("p90_s")))


# ---------------------------------------------------------------------------
# top user journey paths
# ---------------------------------------------------------------------------

_PATH_TOPK_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
         bool_or(event_type = 'purchase') AS converted
  FROM ranked WHERE rn <= 8
  GROUP BY user_id
), agg AS (
  SELECT path,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(COUNT(*) FILTER (WHERE converted) AS BIGINT) AS n_converted
  FROM paths GROUP BY path
)
SELECT path, n_users, n_converted,
       CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) AS conv_share
FROM agg
ORDER BY n_users DESC, path
LIMIT 20
"""


@register("seq_path_topk", oracle=_PATH_TOPK_ORACLE)
def seq_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user journey paths: each user's first eight events as an
    ordered 'view>click>...' string, ranked by how many users walk that
    exact path, with the conversion share riding along -- the flow
    diagram product analytics reads before funnel design
    (seq_markov_transitions gives the one-step probabilities; this
    gives the WHOLE-WALK frequencies those steps compose into). Path
    assembly orders by (ts, event_id) -- a total order, so the string
    is deterministic; counts are exact; the share is one int/int
    division; top-20 ranks on (n_users desc, path) -- a total order
    again.

    Scale shape: one user-keyed window + groupBy builds paths (prefix
    length caps the string at 8 tokens); the path groupBy is combinable
    (paths are low-cardinality relative to users -- 5^8 max, far fewer
    in practice); top-20 is TakeOrderedAndProject, never a global
    sort."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select("user_id", "event_type", "ts", "event_id",
                       F.row_number().over(w).alias("rn")) \
        .where(F.col("rn") <= 8)
    paths = (ranked.groupBy("user_id")
             .agg(F.array_join(F.transform(
                 F.array_sort(F.collect_list(F.struct(
                     "ts", "event_id", "event_type"))),
                 lambda s: s["event_type"]), ">").alias("path"),
                 F.max(F.col("event_type") == "purchase")
                 .alias("converted")))
    agg = (paths.groupBy("path")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                F.count(F.when(F.col("converted"), 1)).cast("bigint")
                .alias("n_converted")))
    return (agg.select(
        "path", "n_users", "n_converted",
        (F.col("n_converted").cast("double")
         / F.col("n_users").cast("double")).alias("conv_share"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20))


# ---------------------------------------------------------------------------
# first-touch / last-touch attribution
# ---------------------------------------------------------------------------

_ATTRIB_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
), ft AS (
  SELECT user_id, event_type AS touch FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM ev) WHERE rn = 1
), lt AS (
  SELECT user_id, event_id,
         COALESCE(lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id),
                  'direct') AS touch,
         event_type, cents
  FROM ev
), purchases AS (
  SELECT user_id, event_id, cents FROM ev WHERE event_type = 'purchase'
), first_model AS (
  SELECT 'first_touch' AS model, ft.touch,
         CAST(SUM(p.cents) AS BIGINT) AS attributed_cents,
         CAST(COUNT(*) AS BIGINT) AS n_purchases
  FROM purchases p JOIN ft ON p.user_id = ft.user_id
  GROUP BY ft.touch
), last_model AS (
  SELECT 'last_touch' AS model, touch,
         CAST(SUM(cents) AS BIGINT) AS attributed_cents,
         CAST(COUNT(*) AS BIGINT) AS n_purchases
  FROM lt WHERE event_type = 'purchase'
  GROUP BY touch
)
SELECT * FROM first_model UNION ALL SELECT * FROM last_model
"""


@register("seq_attribution_first_last", oracle=_ATTRIB_ORACLE)
def seq_attribution_first_last(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Marketing attribution under BOTH classic single-touch models in
    one result: every purchase's revenue credited 100% to the user's
    FIRST-ever event type (first-touch: what acquired them) and,
    separately, to the event type immediately PRECEDING the purchase
    (last-touch: what converted them; 'direct' when the purchase is the
    user's first event) -- the two ends of the attribution spectrum
    whose disagreement IS the insight (a channel strong in first-touch
    but absent in last-touch acquires users someone else converts).
    Orders ride the (ts, event_id) total order; revenue is exact cents.

    Scale shape: first-touch is one user-keyed rank window; last-touch
    is a lag over the same user-keyed sort (ONE exchange serves both);
    the per-model rollups are combinable groupBys over five touch
    values."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", "ts", "event_id",
        round_cents("value").alias("cents"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    decorated = ev.select(
        "user_id", "event_type", "cents",
        F.row_number().over(w).alias("rn"),
        F.coalesce(F.lag("event_type").over(w), F.lit("direct"))
        .alias("prev_type"))
    ft = (decorated.where(F.col("rn") == 1)
          .select("user_id", F.col("event_type").alias("touch")))
    purchases = decorated.where(F.col("event_type") == "purchase")
    first_model = (purchases.join(ft, "user_id")
                   .groupBy("touch")
                   .agg(F.sum("cents").cast("bigint")
                        .alias("attributed_cents"),
                        F.count(F.lit(1)).cast("bigint")
                        .alias("n_purchases"))
                   .select(F.lit("first_touch").alias("model"), "touch",
                           "attributed_cents", "n_purchases"))
    last_model = (purchases
                  .groupBy(F.col("prev_type").alias("touch"))
                  .agg(F.sum("cents").cast("bigint")
                       .alias("attributed_cents"),
                       F.count(F.lit(1)).cast("bigint")
                       .alias("n_purchases"))
                  .select(F.lit("last_touch").alias("model"), "touch",
                          "attributed_cents", "n_purchases"))
    return first_model.unionByName(last_model)


# ---------------------------------------------------------------------------
# weekly growth accounting
# ---------------------------------------------------------------------------

_GROWTH_ORACLE = """
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week
  FROM events
), firsts AS (
  SELECT user_id, MIN(week) AS first_week FROM uw GROUP BY user_id
), act AS (
  SELECT uw.user_id, uw.week,
         f.first_week = uw.week AS is_new,
         p.user_id IS NOT NULL AS was_prev,
         n.user_id IS NULL AS gone_next
  FROM uw
  JOIN firsts f ON uw.user_id = f.user_id
  LEFT JOIN uw p ON p.user_id = uw.user_id
                AND p.week = uw.week - INTERVAL 7 DAY
  LEFT JOIN uw n ON n.user_id = uw.user_id
                AND n.week = uw.week + INTERVAL 7 DAY
), maxw AS (
  SELECT MAX(week) AS max_week FROM uw
)
SELECT week,
       CAST(COUNT(*) FILTER (WHERE is_new) AS BIGINT) AS n_new,
       CAST(COUNT(*) FILTER (WHERE was_prev) AS BIGINT) AS n_retained,
       CAST(COUNT(*) FILTER (WHERE NOT is_new AND NOT was_prev)
            AS BIGINT) AS n_resurrected,
       CAST(COUNT(*) FILTER (WHERE gone_next AND week < max_week)
            AS BIGINT) AS n_churning_out
FROM act CROSS JOIN maxw
GROUP BY week, max_week
"""


@register("seq_growth_accounting_weekly", oracle=_GROWTH_ORACLE)
def seq_growth_accounting_weekly(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Weekly growth accounting -- the MAU-accounting matrix every
    growth team maintains: per week, how many active users are NEW
    (first-ever week), RETAINED (also active the previous week),
    RESURRECTED (returning after a gap), and how many of this week's
    actives CHURN OUT (absent next week; the final week abstains --
    censored, not churned). Activity is the distinct (user, week)
    grain; the three flags come from two self-joins at week +/- 7 days
    and the first-week table -- all exact set logic, no floats anywhere.

    Scale shape: the distinct (user, week) grain is one combinable
    exchange; both adjacency probes are equi-joins on (user, week+/-7d)
    -- same-key hash joins, no windows over users; the rollup is
    calendar-bounded."""
    ev = load_table(spark, "events", sf_dir)
    uw = (ev.select("user_id", F.date_trunc("week", "ts").alias("week"))
          .distinct().localCheckpoint(eager=False))
    firsts = uw.groupBy("user_id").agg(F.min("week").alias("first_week"))
    p = uw.select(F.col("user_id").alias("pu"),
                  (F.col("week") + F.expr("INTERVAL 7 DAY")).alias("pw"))
    n = uw.select(F.col("user_id").alias("nu"),
                  (F.col("week") - F.expr("INTERVAL 7 DAY")).alias("nw"))
    maxw = uw.agg(F.max("week").alias("max_week"))
    act = (uw.join(firsts, "user_id")
           .join(p, (F.col("user_id") == F.col("pu"))
                 & (F.col("week") == F.col("pw")), "left")
           .join(n, (F.col("user_id") == F.col("nu"))
                 & (F.col("week") == F.col("nw")), "left")
           .crossJoin(F.broadcast(maxw))
           .select("week",
                   (F.col("first_week") == F.col("week")).alias("is_new"),
                   F.col("pu").isNotNull().alias("was_prev"),
                   F.col("nu").isNull().alias("gone_next"),
                   "max_week"))
    return (act.groupBy("week", "max_week")
            .agg(F.count(F.when(F.col("is_new"), 1)).cast("bigint")
                 .alias("n_new"),
                 F.count(F.when(F.col("was_prev"), 1)).cast("bigint")
                 .alias("n_retained"),
                 F.count(F.when(~F.col("is_new") & ~F.col("was_prev"), 1))
                 .cast("bigint").alias("n_resurrected"),
                 F.count(F.when(F.col("gone_next")
                                & (F.col("week") < F.col("max_week")), 1))
                 .cast("bigint").alias("n_churning_out"))
            .drop("max_week"))


# ---------------------------------------------------------------------------
# strict-order window funnel
# ---------------------------------------------------------------------------

_WFUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT v.user_id, MIN(e.ts) AS t2
  FROM v JOIN events e
    ON e.user_id = v.user_id AND e.event_type = 'click'
   AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 DAY
  GROUP BY v.user_id
), p AS (
  SELECT c.user_id, MIN(e.ts) AS t3
  FROM c JOIN v ON c.user_id = v.user_id
  JOIN events e
    ON e.user_id = c.user_id AND e.event_type = 'purchase'
   AND e.ts > c.t2 AND e.ts <= v.t1 + INTERVAL 1 DAY
  GROUP BY c.user_id
), depth AS (
  SELECT v.user_id,
         1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
           + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS d
  FROM v LEFT JOIN c ON v.user_id = c.user_id
  LEFT JOIN p ON v.user_id = p.user_id
)
SELECT CAST(d AS BIGINT) AS funnel_depth,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM depth GROUP BY d
"""


@register("seq_window_funnel_strict", oracle=_WFUNNEL_ORACLE)
def seq_window_funnel_strict(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """STRICT-ORDER window funnel (the ClickHouse windowFunnel
    semantics): view, then a click STRICTLY AFTER the first view, then
    a purchase STRICTLY AFTER that click -- all inside a 1-day horizon
    anchored at the first view; users counted at their deepest step.
    Differs from funnel_view_click_purchase's set-membership funnel
    exactly where product analysis needs it: a purchase BEFORE the
    click does not count as conversion THROUGH the funnel. Each step is
    a conditional MIN anchored on the previous step's timestamp --
    sequential semantics, but each stage is one user-keyed equi-join +
    groupBy, never a per-user sort.

    Scale shape: three user-keyed joins/folds (same-key hash
    partitioning reuses the exchange); depth rollup folds to <= 3
    rows."""
    ev = load_table(spark, "events", sf_dir)
    v = (ev.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    horizon = F.col("t1") + F.expr("INTERVAL 1 DAY")
    clicks = ev.where(F.col("event_type") == "click") \
        .select(F.col("user_id").alias("cu"), F.col("ts").alias("cts"))
    c = (v.join(clicks, (F.col("user_id") == F.col("cu"))
                & (F.col("cts") > F.col("t1"))
                & (F.col("cts") <= horizon))
         .groupBy("user_id").agg(F.min("cts").alias("t2")))
    purchases = ev.where(F.col("event_type") == "purchase") \
        .select(F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
    p = (c.join(v.select(F.col("user_id").alias("vu"), "t1"),
                F.col("user_id") == F.col("vu"))
         .join(purchases, (F.col("user_id") == F.col("pu"))
               & (F.col("pts") > F.col("t2"))
               & (F.col("pts") <= F.col("t1") + F.expr("INTERVAL 1 DAY")))
         .groupBy("user_id").agg(F.min("pts").alias("t3")))
    depth = (v.select("user_id")
             .join(c.select(F.col("user_id").alias("c2")).distinct(),
                   F.col("user_id") == F.col("c2"), "left")
             .join(p.select(F.col("user_id").alias("p2")).distinct(),
                   F.col("user_id") == F.col("p2"), "left")
             .select((F.lit(1)
                      + F.when(F.col("c2").isNull(), 0).otherwise(1)
                      + F.when(F.col("p2").isNull(), 0).otherwise(1))
                     .cast("bigint").alias("funnel_depth")))
    return (depth.groupBy("funnel_depth")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users")))


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), scored AS (
  SELECT user_id, monetary,
         ntile(4) OVER (ORDER BY last_us, user_id) AS r_q,
         ntile(4) OVER (ORDER BY freq, user_id) AS f_q,
         ntile(4) OVER (ORDER BY monetary, user_id) AS m_q
  FROM per_user
)
SELECT r_q || '' || f_q || '' || m_q AS rfm_segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(monetary) AS BIGINT) AS revenue_cents
FROM scored GROUP BY r_q || '' || f_q || '' || m_q
"""


@register("seq_rfm_segments", oracle=_RFM_ORACLE)
def seq_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation -- the marketing-ops classic: every purchasing
    user scored into recency/frequency/monetary quartiles (NTILE over
    total orders: metric then user_id, so ties are deterministic) and
    rolled up per 3-digit segment code with user counts and revenue --
    '444' is the champions cell, '111' the lost cell, and the table is
    the campaign-targeting input seq_user-level analytics feed. All
    inputs are exact integers (epoch-microsecond recency, counts,
    cents).

    Scale shape: one combinable user-grain fold; the three quartile
    assignments are three chained two-pass bucketed ranks
    (bucketed.py + the exact NTILE formula — no single-partition
    window over the purchaser table at any user count); a <=64-cell
    rollup."""
    ev = load_table(spark, "events", sf_dir) \
        .where(F.col("event_type") == "purchase")
    cents = round_cents("value")
    per_user = ev.groupBy("user_id").agg(
        F.unix_micros(F.max("ts").cast("timestamp")).cast("bigint")
        .alias("last_us"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(cents).cast("bigint").alias("monetary"))
    # localCheckpoint between the three chained rank layers: each
    # bucketed_order reads its input in up to four plan branches
    # (min/max, rows, bucket stats, output join); without the pin the
    # chain recompounds the whole upstream per layer (measured 6.5 s →
    # 1.9 s at sf0.1 after pinning; each pin is one linear user-grain
    # materialization, the llm_pipeline staging discipline)
    s1 = bucketed_order(per_user.localCheckpoint(eager=False),
                        "last_us", ["user_id"], ntile={"r_q": 4}) \
        .localCheckpoint(eager=False)
    s2 = bucketed_order(s1, "freq", ["user_id"], ntile={"f_q": 4}) \
        .localCheckpoint(eager=False)
    scored = bucketed_order(s2, "monetary", ["user_id"],
                            ntile={"m_q": 4})
    return (scored.groupBy(F.concat_ws("", F.col("r_q"), F.col("f_q"),
                                       F.col("m_q")).alias("rfm_segment"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 F.sum("monetary").cast("bigint").alias("revenue_cents")))


# ---------------------------------------------------------------------------
# daily bounce rate over 30-minute sessions
# ---------------------------------------------------------------------------

_BOUNCE_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts,
                                 event_id) IS NULL
              OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts,
                                    event_id) + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
), sessions AS (
  SELECT user_id, session_no,
         strftime(CAST(MIN(ts) AS DATE), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM numbered GROUP BY user_id, session_no
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
       CAST(COUNT(*) FILTER (WHERE n_events = 1) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS bounce_rate
FROM sessions GROUP BY day
"""


@register("seq_bounce_rate_daily", oracle=_BOUNCE_ORACLE)
def seq_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate over 30-minute-gap sessions: the share of
    sessions (attributed to their START day, the analytics convention)
    that contain exactly ONE event -- the engagement-health headline on
    every web dashboard, here composed from the same gaps-and-islands
    sessionization the stream_session_window twin pins (lag + cumsum
    over a (ts, event_id) total order). Counts exact; one division per
    day; the day projects yyyy-MM-dd (portable projection).

    Scale shape: one user-keyed sort serves the gap flag AND the island
    cumsum; sessions and the daily rollup are combinable groupBys."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    marked = ev.select(
        "user_id", "ts", "event_id",
        F.when(prev.isNull()
               | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTE")),
               F.lit(1)).otherwise(F.lit(0)).alias("is_new"))
    numbered = marked.select(
        "user_id", "ts",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"))
    sessions = (numbered.groupBy("user_id", "session_no")
                .agg(F.date_format(F.min("ts"), "yyyy-MM-dd").alias("day"),
                     F.count(F.lit(1)).cast("bigint").alias("n_events")))
    return (sessions.groupBy("day")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                 F.count(F.when(F.col("n_events") == 1, 1)).cast("bigint")
                 .alias("n_bounces"),
                 (F.count(F.when(F.col("n_events") == 1, 1)).cast("double")
                  / F.count(F.lit(1)).cast("double")).alias("bounce_rate")))


# ---------------------------------------------------------------------------
# reorder cadence
# ---------------------------------------------------------------------------

_CADENCE_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         CAST(date_diff('day',
                        lag(o_orderdate) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate,
                                                        o_orderkey),
                        o_orderdate) AS BIGINT) AS gap_days
  FROM orders
), g AS (
  SELECT gap_days FROM gaps WHERE gap_days IS NOT NULL
), ranked AS (
  SELECT gap_days,
         row_number() OVER (ORDER BY gap_days) AS rn,
         COUNT(*) OVER () AS n
  FROM g
)
SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN gap_days END) AS BIGINT)
         AS median_gap_days,
       CAST(MIN(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_days END)
            AS BIGINT) AS p90_gap_days
FROM ranked
"""


@register("seq_reorder_cadence", oracle=_CADENCE_ORACLE)
def seq_reorder_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder cadence: the distribution of day gaps between a
    customer's consecutive orders -- DISCRETE median and p90 (the
    ts_outlier_iqr rank rule) over all inter-order gaps, the
    replenishment-cycle number that sets reminder timing and churn
    cutoffs (a customer 2x past the p90 gap is the churn-risk
    definition seq_user_lifecycle-style stages need). Gaps are exact
    integer day differences off one customer-keyed lag; quantiles are
    rank-picked integers.

    Scale shape: customer-keyed lag (key-parallel); the global rank is
    the two-pass bucketed rank (bucketed.py — gap-value buckets are
    monotone in the order, so ALL inter-order gap rows rank in
    parallel; no 'No Partition Defined' window, pinned in
    test_plans.py); the total count broadcasts back as one row."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    gaps = (o.select(F.datediff("o_orderdate",
                                F.lag("o_orderdate").over(w))
                     .cast("bigint").alias("gap_days"))
            .where(F.col("gap_days").isNotNull()))
    # ties in gap_days rank in arbitrary order WITHIN one value, exactly
    # as the plain window did — only the value at the target rank is
    # read, and all tied rows carry that same value
    tot = gaps.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (bucketed_order(gaps, "gap_days", rank_col="rn")
              .crossJoin(F.broadcast(tot)))
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.min(F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2),
                     F.col("gap_days"))).cast("bigint")
        .alias("median_gap_days"),
        F.min(F.when(F.col("rn") == F.floor((9 * F.col("n") + 9) / 10),
                     F.col("gap_days"))).cast("bigint")
        .alias("p90_gap_days"))
