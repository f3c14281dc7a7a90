"""Data-quality and entity-resolution operators: integrity, freshness,
volume and consistency audits, and record-linkage scoring."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import round_cents
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table


# ---------------------------------------------------------------------------
# referential-integrity audit
# ---------------------------------------------------------------------------

_RI_ORACLE = """
WITH checks AS (
  SELECT 'orders.o_custkey->customer' AS relationship,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_child,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)) AS n_orphan
  UNION ALL
  SELECT 'lineitem.l_orderkey->orders',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'lineitem.l_partkey->part',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'events.user_id->customer (expected broken)',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = e.user_id))
)
SELECT relationship, n_child, n_orphan,
       CAST(n_orphan AS DOUBLE) / CAST(n_child AS DOUBLE) AS orphan_rate
FROM checks
"""


@register("dq_referential_integrity", oracle=_RI_ORACLE)
def dq_referential_integrity(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for four foreign-key
    relationships in one report — the first data-quality check a
    warehouse runs after every load, sitting beside
    dq_expectations_report's column-level rules. Three clean FKs
    (orders→customer, lineitem→orders, lineitem→part) plus one
    DELIBERATELY broken pairing (events.user_id against customer keys —
    distinct id spaces) so the audit demonstrably reports non-zero
    orphans, not just vacuous greens.

    Scale shape: each check is one LEFT ANTI join with the dimension
    side broadcast (fact never shuffles); the report is a 4-row
    union."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select("c_custkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey")
    ev = load_table(spark, "events", sf_dir)

    def check(name, child, key, dim, dim_key):
        n = child.agg(F.count(F.lit(1)).cast("bigint").alias("n_child"))
        orphans = (child.join(F.broadcast(dim),
                              F.col(key) == F.col(dim_key), "left_anti")
                   .agg(F.count(F.lit(1)).cast("bigint")
                        .alias("n_orphan")))
        return (n.crossJoin(orphans)
                .select(F.lit(name).alias("relationship"), "n_child",
                        "n_orphan",
                        (F.col("n_orphan").cast("double")
                         / F.col("n_child").cast("double"))
                        .alias("orphan_rate")))

    return (check("orders.o_custkey->customer", o, "o_custkey",
                  cust, "c_custkey")
            .unionByName(check("lineitem.l_orderkey->orders",
                               li, "l_orderkey",
                               o.select("o_orderkey"), "o_orderkey"))
            .unionByName(check("lineitem.l_partkey->part",
                               li, "l_partkey", part, "p_partkey"))
            .unionByName(check("events.user_id->customer (expected broken)",
                               ev, "user_id", cust, "c_custkey")))


# ---------------------------------------------------------------------------
# freshness / staleness lag
# ---------------------------------------------------------------------------

_FRESH_ORACLE = """
WITH g AS (
  SELECT CAST(epoch_us(MAX(ts)) AS BIGINT) AS gmax FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts,
       CAST((MAX(g.gmax) - CAST(epoch_us(MAX(ts)) AS BIGINT)) // 1000000
            AS BIGINT) AS lag_seconds,
       CAST(COUNT(*) FILTER (WHERE CAST(epoch_us(ts) AS BIGINT)
                                   > g.gmax - 86400000000) AS BIGINT)
         AS n_last_24h
FROM events CROSS JOIN g
GROUP BY event_type
"""


@register("dq_freshness_lag", oracle=_FRESH_ORACLE)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness audit: each event type's latest timestamp,
    its staleness lag behind the globally freshest source (exact
    integer seconds off epoch-microseconds), and its last-24h row count
    — the is-the-feed-alive panel every ingestion dashboard leads with,
    beside dq_expectations_report. The timestamp projects through
    strftime (portable projection); everything else is exact integer
    arithmetic.

    Scale shape: one broadcast 1-row global max; one combinable
    per-type fold (max, count, windowed count) — two map-side passes to
    a 5-row report."""
    ev = load_table(spark, "events", sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp")).cast("bigint")
    g = ev.agg(F.max(us).alias("gmax"))
    return (ev.crossJoin(F.broadcast(g))
            .select("event_type", "ts", us.alias("us"), "gmax")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss")
                 .alias("latest_ts"),
                 F.floor((F.max("gmax") - F.max("us")) / 1000000)
                 .cast("bigint").alias("lag_seconds"),
                 F.count(F.when(F.col("us")
                                > F.col("gmax") - 86400000000, 1))
                 .cast("bigint").alias("n_last_24h")))


# ---------------------------------------------------------------------------
# primary-key uniqueness audit
# ---------------------------------------------------------------------------

_PK_ORACLE = """
SELECT 'orders.o_orderkey' AS pk,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_dup_rows
FROM orders
UNION ALL
SELECT 'customer.c_custkey', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
FROM customer
UNION ALL
SELECT 'events.event_id', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT event_id) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
FROM events
UNION ALL
SELECT 'lineitem.(l_orderkey,l_linenumber)', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT l_orderkey * 100 + l_linenumber) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 100 + l_linenumber)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'documents.doc_id', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT doc_id) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
FROM documents
"""


@register("dq_pk_uniqueness", oracle=_PK_ORACLE)
def dq_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across five tables in one report —
    the third leg of the round-7 DQ set (referential integrity =
    cross-table, freshness = temporal, this = key-grain): row count,
    distinct key count and duplicate-row count per declared key,
    including one COMPOSITE key (lineitem's order+line, packed into one
    integer since line numbers are < 100 — the packing documented where
    it happens). Exact counts; no divisions.

    Scale shape: five combinable count-distinct folds (partial
    aggregation map-side; the composite packs before hashing); a 5-row
    union."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    ev = load_table(spark, "events", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    d = load_table(spark, "documents", sf_dir)

    def audit(name, df, key):
        return df.agg(
            F.lit(name).alias("pk"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(key).cast("bigint").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct(key)).cast("bigint")
            .alias("n_dup_rows")).select(
                "pk", "n_rows", "n_distinct", "n_dup_rows")

    comp = F.col("l_orderkey") * 100 + F.col("l_linenumber")
    return (audit("orders.o_orderkey", o, F.col("o_orderkey"))
            .unionByName(audit("customer.c_custkey", c,
                               F.col("c_custkey")))
            .unionByName(audit("events.event_id", ev, F.col("event_id")))
            .unionByName(audit("lineitem.(l_orderkey,l_linenumber)",
                               li, comp))
            .unionByName(audit("documents.doc_id", d, F.col("doc_id"))))


# ---------------------------------------------------------------------------
# orders <-> lineitem reconciliation audit
# ---------------------------------------------------------------------------

_RECON_ORACLE = """
WITH li AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS li_cents
  FROM lineitem GROUP BY l_orderkey
), j AS (
  SELECT CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS o_cents,
         li.li_cents
  FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
), classed AS (
  -- integer-safe relative-gap buckets: |o - l| vs 1% / 10% of o
  SELECT CASE
           WHEN li_cents IS NULL THEN 'no_lineitems'
           WHEN o_cents = li_cents THEN 'exact'
           WHEN abs(o_cents - li_cents) * 100 <= o_cents THEN 'within_1pct'
           WHEN abs(o_cents - li_cents) * 10 <= o_cents THEN 'within_10pct'
           ELSE 'beyond_10pct'
         END AS bucket,
         o_cents, li_cents
  FROM j
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_cents) AS BIGINT) AS order_cents,
       CAST(SUM(COALESCE(li_cents, 0)) AS BIGINT) AS lineitem_cents
FROM classed GROUP BY bucket
"""


@register("dq_reconciliation_orders_lineitem", oracle=_RECON_ORACLE)
def dq_reconciliation_orders_lineitem(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Header-to-detail reconciliation: every order's stated total
    against the sum of its line extended prices, bucketed by
    INTEGER-safe relative gap (exact / ≤1% / ≤10% / beyond /
    no-lineitems) — the classic warehouse fact-to-fact consistency
    audit (TPC-H totals legitimately differ from Σ extendedprice by
    discount/tax, so the report shows a real distribution, not vacuous
    greens — the dq_referential_integrity design rule). Gap edges are
    cross-multiplications (|Δ|·100 ≤ total), never float ratios.

    Scale shape: one order-keyed lineitem fold, one same-key LEFT join
    (both sides hash l_orderkey — one exchange each), a ≤5-row
    rollup."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    lic = li.groupBy("l_orderkey").agg(
        F.sum(round_cents("l_extendedprice")).cast("bigint").alias("li_cents"))
    oc = round_cents("o_totalprice")
    j = (o.select(F.col("o_orderkey"), oc.alias("o_cents"))
         .join(lic, F.col("o_orderkey") == F.col("l_orderkey"), "left"))
    gap = F.abs(F.col("o_cents") - F.col("li_cents"))
    bucket = (F.when(F.col("li_cents").isNull(), "no_lineitems")
              .when(F.col("o_cents") == F.col("li_cents"), "exact")
              .when(gap * 100 <= F.col("o_cents"), "within_1pct")
              .when(gap * 10 <= F.col("o_cents"), "within_10pct")
              .otherwise("beyond_10pct"))
    return (j.select(bucket.alias("bucket"), "o_cents", "li_cents")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.sum("o_cents").cast("bigint").alias("order_cents"),
                 F.sum(F.coalesce("li_cents", F.lit(0))).cast("bigint")
                 .alias("lineitem_cents")))


# ---------------------------------------------------------------------------
# cross-field consistency audit
# ---------------------------------------------------------------------------

_XFIELD_ORACLE = """
WITH r1 AS (
  SELECT 'lineitem_ship_before_order' AS rule,
         CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(COUNT(*) FILTER (WHERE l.l_shipdate < o.o_orderdate)
              AS BIGINT) AS n_violations
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), r2 AS (
  SELECT 'lineitem_discount_gt_8pct' AS rule,
         CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(COUNT(*) FILTER (WHERE CAST(round(l_discount * 100, 0)
                                          AS BIGINT) > 8)
              AS BIGINT) AS n_violations
  FROM lineitem
), r3 AS (
  SELECT 'lineitem_nonpositive_quantity' AS rule,
         CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(COUNT(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
           AS n_violations
  FROM lineitem
), r4 AS (
  SELECT 'events_nonpositive_value' AS rule,
         CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(COUNT(*) FILTER (WHERE value <= 0) AS BIGINT) AS n_violations
  FROM events
), r5 AS (
  SELECT 'orders_totalprice_nonpositive' AS rule,
         CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
           AS n_violations
  FROM orders
), u AS (
  SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
  UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5
)
SELECT rule, n_checked, n_violations,
       round(CAST(n_violations AS DOUBLE) / CAST(n_checked AS DOUBLE), 6)
         AS violation_rate
FROM u ORDER BY rule
"""


@register("dq_cross_field_consistency", oracle=_XFIELD_ORACLE)
def dq_cross_field_consistency(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Cross-field consistency audit — the BETWEEN-COLUMNS leg the DQ
    family (PK uniqueness, referential integrity, freshness lag) did
    not cover: five business rules spanning within-row range checks and
    one cross-TABLE ordering rule (ship date must not precede its
    order's date — genuinely violated in this dataset, so the detector
    demonstrably fires), each reported as checked/violations/rate.
    All counts are exact conditional folds.

    Scale shape: each rule is one combinable conditional fold over its
    table (three table scans total — lineitem rules share one pass);
    the cross-table rule is a fact-to-fact equi-join on the join key
    both sides are naturally clustered by; the report is a 5-row
    union."""
    li = load_table(spark, "lineitem", sf_dir)
    od = load_table(spark, "orders", sf_dir)
    ev = load_table(spark, "events", sf_dir)

    j = li.select("l_orderkey", "l_shipdate").join(
        od.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == od["o_orderkey"])
    r1 = j.agg(
        F.lit("lineitem_ship_before_order").alias("rule"),
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.count(F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1))
        .cast("bigint").alias("n_violations"))
    li_fold = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.round(F.col("l_discount") * 100, 0)
                       .cast("bigint") > 8, 1)).cast("bigint").alias("v2"),
        F.count(F.when(F.col("l_quantity") <= 0, 1))
        .cast("bigint").alias("v3"))
    r2 = li_fold.select(F.lit("lineitem_discount_gt_8pct").alias("rule"),
                        F.col("n").alias("n_checked"),
                        F.col("v2").alias("n_violations"))
    r3 = li_fold.select(
        F.lit("lineitem_nonpositive_quantity").alias("rule"),
        F.col("n").alias("n_checked"), F.col("v3").alias("n_violations"))
    r4 = ev.agg(
        F.lit("events_nonpositive_value").alias("rule"),
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.count(F.when(F.col("value") <= 0, 1)).cast("bigint")
        .alias("n_violations"))
    r5 = od.agg(
        F.lit("orders_totalprice_nonpositive").alias("rule"),
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).cast("bigint")
        .alias("n_violations"))
    u = r1.unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5)
    return (u.select("rule", "n_checked", "n_violations",
                     F.round(F.col("n_violations").cast("double")
                             / F.col("n_checked").cast("double"), 6)
                     .alias("violation_rate"))
            .orderBy("rule"))


# ---------------------------------------------------------------------------
# schema drift audit (actual parquet schema vs frozen expected spec)
# ---------------------------------------------------------------------------

# frozen expected contract for the events feed: session_id is
# deliberately expected-but-absent and value is expected decimal(10,2)
# but lands as double, so both failure classes demonstrably fire;
# props is deliberately NOT in the spec, so the extra-column class
# fires too.
_EXPECTED_EVENTS_SPEC = (
    ("event_id", "bigint"),
    ("ts", "timestamp_ntz"),  # parquet isAdjustedToUTC=false => NTZ
    ("user_id", "bigint"),
    ("event_type", "string"),
    ("value", "decimal(10,2)"),
    ("session_id", "string"),
)

_SCHEMA_DRIFT_ORACLE = """
SELECT * FROM (VALUES
  ('event_id',   'bigint',        'bigint',    'ok'),
  ('event_type', 'string',        'string',    'ok'),
  ('props',      NULL,            'string',    'extra'),
  ('session_id', 'string',        NULL,        'missing'),
  ('ts',         'timestamp_ntz', 'timestamp_ntz', 'ok'),
  ('user_id',    'bigint',        'bigint',    'ok'),
  ('value',      'decimal(10,2)', 'double',    'type_mismatch')
) AS t(column_name, expected_type, actual_type, status)
ORDER BY column_name
"""


@register("dq_schema_drift_report", oracle=_SCHEMA_DRIFT_ORACLE)
def dq_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift audit of the events feed against a FROZEN expected
    contract: per column, ok / type_mismatch / missing / extra — the
    catch-it-before-the-job-fails gate an ingestion pipeline runs when
    an upstream producer redeploys (the top real-world cause of silent
    batch corruption; dq_expectations_report audits VALUES, this audits
    the SHAPE). The actual schema is read from the parquet footer
    (self-describing, NOT the engine's explicit load schema — drift
    detection must see what the producer wrote); the spec deliberately
    disagrees in all three failure classes so each detector
    demonstrably fires.

    Scale shape: pure metadata — one parquet-footer read on the
    driver, zero data rows scanned; the report is ≤|columns| rows."""
    import os

    actual = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")).schema
    act = {f.name: f.dataType.simpleString() for f in actual.fields}
    exp = dict(_EXPECTED_EVENTS_SPEC)
    rows = []
    for col in sorted(set(act) | set(exp)):
        e, a = exp.get(col), act.get(col)
        status = ("missing" if a is None else
                  "extra" if e is None else
                  "ok" if e == a else "type_mismatch")
        rows.append((col, e, a, status))
    return spark.createDataFrame(
        rows, "column_name string, expected_type string, "
              "actual_type string, status string").orderBy("column_name")


# ---------------------------------------------------------------------------
# daily volume anomaly monitor (trailing-median robust flag)
# ---------------------------------------------------------------------------

_VOLUME_ANOMALY_ORACLE = """
WITH d AS (
  SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
), t AS (
  SELECT day, cnt,
         median(cnt) OVER (ORDER BY day
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
           AS trail_med,
         CAST(COUNT(*) OVER (ORDER BY day
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS n_trail
  FROM d
)
SELECT day, cnt, round(trail_med, 6) AS trail_median,
       2.0 * abs(CAST(cnt AS DOUBLE) - trail_med) > trail_med AS is_anomaly
FROM t WHERE n_trail = 7 ORDER BY day
"""


@register("dq_volume_anomaly_daily", oracle=_VOLUME_ANOMALY_ORACLE)
def dq_volume_anomaly_daily(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Daily ingest-volume anomaly monitor: each day's event count vs
    the TRAILING 7-day median (excluding today — yesterday's outage
    must not defend today's), flagged when the deviation exceeds half
    the median — the robust feed-is-broken alarm next to
    dq_freshness_lag's feed-is-stale one (medians shrug off the single
    spike that would poison a trailing MEAN). Counts are exact; the
    7-element frame median is exact in double (odd frame picks the
    middle integer, the warm-up's even frames interpolate two integers
    identically in both engines); the flag is the same
    cross-multiplied comparison in both.

    Scale shape: calendar-bounded daily fold (≤366 rows at any corpus
    size); one sliding frame over the bounded domain; warm-up days
    (fewer than 7 trailing observations) are excluded — the monitor
    only speaks once it has a full baseline week."""
    ev = load_table(spark, "events", sf_dir)
    d = (ev.select(F.date_trunc("day", F.col("ts")).alias("day"))
         .groupBy("day")
         .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    wf = Window.orderBy("day").rowsBetween(-7, -1)
    t = d.select(
        "day", "cnt",
        F.expr("percentile(cnt, 0.5)").over(wf).alias("trail_med"),
        F.count(F.lit(1)).over(wf).cast("bigint").alias("n_trail"))
    flag = (2.0 * F.abs(F.col("cnt").cast("double") - F.col("trail_med"))
            > F.col("trail_med"))
    return (t.where(F.col("n_trail") == 7)
            .select("day", "cnt",
                    F.round("trail_med", 6).alias("trail_median"),
                    flag.alias("is_anomaly"))
            .orderBy("day"))


# ---------------------------------------------------------------------------
# Fellegi-Sunter record-linkage scoring
# ---------------------------------------------------------------------------

# frozen agreement/disagreement log-odds weights (the m/u ratios a real
# linkage fits by EM; frozen literals keep both engines bit-identical)
_FS_W = {
    "nation": (2.2, -0.8),
    "region": (1.1, -0.5),
    "balance": (1.9, -0.7),
}
_FS_MATCH = 4.0
_FS_POSSIBLE = 0.5
_FS_BAND = 100  # candidate blocking: |Δ acctbal| ≤ 1 dollar buckets

_FS_ORACLE = f"""
WITH k AS (
  SELECT c_custkey, c_mktsegment, c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
), nr AS (
  SELECT n_nationkey, n_regionkey FROM nation
), a AS (
  SELECT k.c_custkey AS ak, k.c_mktsegment, k.c_nationkey AS an,
         nr.n_regionkey AS ar, k.cents AS ac,
         k.cents // {_FS_BAND} AS bucket
  FROM k JOIN nr ON nr.n_nationkey = k.c_nationkey
), b AS (
  SELECT a.ak AS bk, a.c_mktsegment, a.an AS bn, a.ar AS br,
         a.ac AS bc, a.bucket + off.o AS bucket
  FROM a CROSS JOIN (SELECT unnest([-1, 0, 1]) AS o) AS off
), pairs AS (
  SELECT DISTINCT a.c_mktsegment, a.ak, b.bk,
         a.an = b.bn AS nation_agree,
         a.ar = b.br AS region_agree,
         abs(a.ac - b.bc) <= {_FS_BAND} AS balance_agree
  FROM a JOIN b ON a.c_mktsegment = b.c_mktsegment
                AND a.bucket = b.bucket AND a.ak < b.bk
), scored AS (
  SELECT nation_agree, region_agree, balance_agree,
         (CASE WHEN nation_agree THEN {_FS_W['nation'][0]!r}
               ELSE {_FS_W['nation'][1]!r} END
          + CASE WHEN region_agree THEN {_FS_W['region'][0]!r}
                 ELSE {_FS_W['region'][1]!r} END
          + CASE WHEN balance_agree THEN {_FS_W['balance'][0]!r}
                 ELSE {_FS_W['balance'][1]!r} END) AS fs_score
  FROM pairs
)
SELECT nation_agree, region_agree, balance_agree,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(fs_score, 6) AS fs_score,
       CASE WHEN fs_score >= {_FS_MATCH!r} THEN 'match'
            WHEN fs_score >= {_FS_POSSIBLE!r} THEN 'possible'
            ELSE 'non_match' END AS decision
FROM scored
GROUP BY nation_agree, region_agree, balance_agree, fs_score
ORDER BY fs_score DESC, nation_agree, region_agree, balance_agree
"""


@register("er_fellegi_sunter_scores", oracle=_FS_ORACLE)
def er_fellegi_sunter_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring over banded candidate
    pairs: each within-segment balance-banded pair gets an agreement
    vector (same nation, same region via the nation→region dim, balance
    within a dollar) and the classic sum of FROZEN log-odds weights,
    then the three-way match / possible / non-match decision — the
    SCORING layer the er_ family's blocking ops
    (er_sorted_neighborhood_pairs, er_blocking_quality_report) feed in
    a real linkage stack. The output is the agreement-PATTERN table
    (≤6 rows: nation⊂region makes two patterns impossible), so every
    count is exact and every score a fixed sum of literals.

    Scale shape: candidates from the banded equi self-join
    (density-bounded per bucket, the join_interval_binned discipline —
    never the quadratic pair space); the region decoration is a
    broadcast dim join; the pattern fold is combinable."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("nk"), F.col("n_regionkey").alias("rk"))
    cents = round_cents("c_acctbal")
    k = (c.select("c_custkey", "c_mktsegment",
                  F.col("c_nationkey").alias("nat"), cents.alias("cents"))
         .join(F.broadcast(n), F.col("nat") == F.col("nk"))
         .select("c_custkey", "c_mktsegment", "nat",
                 F.col("rk").alias("reg"), "cents"))
    a = k.select("c_mktsegment", F.col("c_custkey").alias("ak"),
                 F.col("nat").alias("an"), F.col("reg").alias("ar"),
                 F.col("cents").alias("ac"),
                 F.floor(F.col("cents") / _FS_BAND).alias("bucket"))
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    b = (k.select("c_mktsegment", F.col("c_custkey").alias("bk"),
                  F.col("nat").alias("bn"), F.col("reg").alias("br"),
                  F.col("cents").alias("bc"),
                  F.floor(F.col("cents") / _FS_BAND).alias("bb"))
         .select("*", off.alias("o"))
         .select("c_mktsegment", "bk", "bn", "br", "bc",
                 (F.col("bb") + F.col("o")).alias("bucket")))
    pairs = (a.join(b, ["c_mktsegment", "bucket"])
             .where(F.col("ak") < F.col("bk"))
             .select("ak", "bk",
                     (F.col("an") == F.col("bn")).alias("nation_agree"),
                     (F.col("ar") == F.col("br")).alias("region_agree"),
                     (F.abs(F.col("ac") - F.col("bc")) <= _FS_BAND)
                     .alias("balance_agree"))
             .distinct())
    score = (
        F.when(F.col("nation_agree"), F.lit(_FS_W["nation"][0]))
        .otherwise(F.lit(_FS_W["nation"][1]))
        + F.when(F.col("region_agree"), F.lit(_FS_W["region"][0]))
        .otherwise(F.lit(_FS_W["region"][1]))
        + F.when(F.col("balance_agree"), F.lit(_FS_W["balance"][0]))
        .otherwise(F.lit(_FS_W["balance"][1])))
    scored = pairs.select("nation_agree", "region_agree", "balance_agree",
                          score.alias("fs_score"))
    decision = (F.when(F.col("fs_score") >= _FS_MATCH, "match")
                .when(F.col("fs_score") >= _FS_POSSIBLE, "possible")
                .otherwise("non_match"))
    return (scored.groupBy("nation_agree", "region_agree",
                           "balance_agree", "fs_score")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
            .select("nation_agree", "region_agree", "balance_agree",
                    "n_pairs", F.round("fs_score", 6).alias("fs_score"),
                    decision.alias("decision"))
            .orderBy(F.col("fs_score").desc(), "nation_agree",
                     "region_agree", "balance_agree"))


# ---------------------------------------------------------------------------
# cardinality drift report
# ---------------------------------------------------------------------------

_CARD_DRIFT_ORACLE = """
WITH span AS (
  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
), halves AS (
  SELECT epoch_us(ts) < span.mid AS h1,
         user_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events CROSS JOIN span
), u AS (
  SELECT 'user_id' AS column_name,
         CAST(COUNT(DISTINCT user_id) FILTER (WHERE h1) AS BIGINT) AS d1,
         CAST(COUNT(DISTINCT user_id) FILTER (WHERE NOT h1) AS BIGINT)
           AS d2
  FROM halves
  UNION ALL
  SELECT 'event_type',
         CAST(COUNT(DISTINCT event_type) FILTER (WHERE h1) AS BIGINT),
         CAST(COUNT(DISTINCT event_type) FILTER (WHERE NOT h1) AS BIGINT)
  FROM halves
  UNION ALL
  SELECT 'value_cents',
         CAST(COUNT(DISTINCT cents) FILTER (WHERE h1) AS BIGINT),
         CAST(COUNT(DISTINCT cents) FILTER (WHERE NOT h1) AS BIGINT)
  FROM halves
)
SELECT column_name, d1 AS n_distinct_h1, d2 AS n_distinct_h2,
       round(CAST(d2 AS DOUBLE) / CAST(d1 AS DOUBLE), 6) AS drift_ratio
FROM u ORDER BY column_name
"""


@register("dq_cardinality_drift_report", oracle=_CARD_DRIFT_ORACLE)
def dq_cardinality_drift_report(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Cardinality-drift audit: distinct-value counts per column in the
    first vs second half of the time span (midpoint in exact
    epoch-microsecond integers) and their ratio — the
    dimension-explosion detector (a new client version spraying UUIDs
    into a previously low-cardinality column is the classic silent
    schema-abuse incident; PSI sees distribution shape, THIS sees the
    key space itself). All counts exact; the half split is one
    broadcast 1-row min/max.

    Scale shape (VERDICT r7 wrong #3 rewrite): exactly TWO scans of
    the fact table — one cheap partial-agg min/max for the broadcast
    span row, then ALL six conditional count-distincts in a single
    agg over one scan (Spark's multi-distinct Expand), unpivoted with
    stack() to the 3-row report. The previous shape unioned three
    separate aggregates and rescanned events ~6×."""
    ev = load_table(spark, "events", sf_dir)
    span = ev.agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("bigint").alias("mid"))
    halves = (ev.crossJoin(F.broadcast(span))
              .select((F.unix_micros("ts") < F.col("mid")).alias("h1"),
                      "user_id", "event_type",
                      round_cents("value").alias("cents")))

    def pair(col: str, tag: str) -> list:
        return [F.countDistinct(F.when(F.col("h1"), F.col(col)))
                .cast("bigint").alias(f"{tag}1"),
                F.countDistinct(F.when(~F.col("h1"), F.col(col)))
                .cast("bigint").alias(f"{tag}2")]

    wide = halves.agg(*(pair("user_id", "u") + pair("event_type", "e")
                        + pair("cents", "c")))
    u = wide.selectExpr(
        "stack(3, 'user_id', u1, u2, 'event_type', e1, e2, "
        "'value_cents', c1, c2) AS (column_name, d1, d2)")
    return (u.select("column_name",
                     F.col("d1").alias("n_distinct_h1"),
                     F.col("d2").alias("n_distinct_h2"),
                     F.round(F.col("d2").cast("double")
                             / F.col("d1").cast("double"), 6)
                     .alias("drift_ratio"))
            .orderBy("column_name"))


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking for entity resolution (round 6)
# ---------------------------------------------------------------------------

_SNM_W = 3
_SNM_DIFF_CENTS = 100

_SNM_ORACLE = f"""
WITH keyed AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY round(c_acctbal * 100, 0), c_custkey)
           AS rk
  FROM customer
)
SELECT a.c_mktsegment, a.c_custkey AS a_custkey, b.c_custkey AS b_custkey,
       CAST(b.rk - a.rk AS BIGINT) AS rank_dist,
       CAST(abs(b.cents - a.cents) AS BIGINT) AS diff_cents
FROM keyed a JOIN keyed b
  ON a.c_mktsegment = b.c_mktsegment
  AND b.rk > a.rk AND b.rk <= a.rk + {_SNM_W}
WHERE abs(b.cents - a.cents) <= {_SNM_DIFF_CENTS}
"""


@register("er_sorted_neighborhood_pairs", oracle=_SNM_ORACLE)
def er_sorted_neighborhood_pairs(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking for entity resolution — sort each
    segment by account balance, compare every record ONLY to its w=3
    successors in rank order, keep pairs within 100 cents: the classic
    duplicate-account screen whose candidate volume is w·n by
    construction (contrast the hash blocking of
    join_fuzzy_levenshtein_blocked: hash blocks catch exact-key
    collisions, sorted neighborhoods catch NEAR-key neighbors hash
    blocking spreads across blocks — real ER stacks run both and union
    candidates). Generated WITHOUT a self-join: the w successors come
    off lead() columns over the already-sorted window, so candidate
    generation is map-side after the one sort shuffle.

    Scale shape: one window shuffle per segment; w lead columns; the
    unpivot to pairs and the distance filter are map-side. The oracle
    uses the equivalent rank-band self-join."""
    c = load_table(spark, "customer", sf_dir)
    cents = round_cents("c_acctbal")
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    keyed = c.select("c_custkey", "c_mktsegment", cents.alias("cents")) \
             .withColumn("rk", F.row_number().over(w))
    leads = keyed.select(
        "c_mktsegment", "c_custkey", "cents",
        F.array(*[
            F.struct(F.lead("c_custkey", k).over(w).alias("b_custkey"),
                     F.lead("cents", k).over(w).alias("b_cents"),
                     F.lit(k).cast("bigint").alias("rank_dist"))
            for k in range(1, _SNM_W + 1)]).alias("nbrs"))
    pairs = (leads.select(
        "c_mktsegment", F.col("c_custkey").alias("a_custkey"), "cents",
        F.explode("nbrs").alias("nb"))
        .where(F.col("nb.b_custkey").isNotNull()))
    diff = F.abs(F.col("nb.b_cents") - F.col("cents")).cast("bigint")
    return (pairs.where(diff <= _SNM_DIFF_CENTS)
            .select("c_mktsegment", "a_custkey",
                    F.col("nb.b_custkey").alias("b_custkey"),
                    F.col("nb.rank_dist").alias("rank_dist"),
                    diff.alias("diff_cents")))


# ---------------------------------------------------------------------------
# data-quality expectations report (round 6)
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
SELECT * FROM (
  SELECT 'row_count_min_1000' AS expectation,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS metric,
         CAST(1000 AS BIGINT) AS threshold,
         (SELECT COUNT(*) FROM orders) >= 1000 AS passed
  UNION ALL
  SELECT 'custkey_null_violations',
         (SELECT CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
          FROM orders),
         CAST(0 AS BIGINT),
         (SELECT COUNT(*) FILTER (WHERE o_custkey IS NULL) FROM orders) <= 0
  UNION ALL
  SELECT 'status_domain_violations',
         (SELECT CAST(COUNT(*) FILTER (
            WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
          FROM orders),
         CAST(0 AS BIGINT),
         (SELECT COUNT(*) FILTER (
            WHERE o_orderstatus NOT IN ('O', 'F', 'P')) FROM orders) <= 0
  UNION ALL
  SELECT 'orderkey_duplicate_rows',
         (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
          FROM orders),
         CAST(0 AS BIGINT),
         (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) <= 0
  UNION ALL
  SELECT 'custkey_fk_orphans',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)),
         CAST(0 AS BIGINT),
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)) <= 0
  UNION ALL
  SELECT 'totalprice_nonpositive',
         (SELECT CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
          FROM orders),
         CAST(0 AS BIGINT),
         (SELECT COUNT(*) FILTER (WHERE o_totalprice <= 0) FROM orders) <= 0
)
"""


@register("dq_expectations_report", oracle=_DQ_ORACLE)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality expectations report over the orders
    feed — the batch-layer validation gate a lambda pipeline runs
    BEFORE publishing a batch view: minimum row count, null-rate,
    value-domain, primary-key uniqueness, referential integrity to
    customer, and range sanity, each emitted as a
    (expectation, metric, threshold, passed) row so the sink can
    quarantine on any failed row. All metrics are exact integer counts;
    five of six fold map-side in ONE pass over the scan (conditional
    counts) — only the FK orphan check needs the anti-join.

    Scale shape: one combinable multi-count aggregate + one broadcast
    anti join (customer is the dim side); output is 6 rows."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir).select("c_custkey")
    base = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).cast("bigint")
        .alias("n_null_cust"),
        F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1))
        .cast("bigint").alias("n_bad_status"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).cast("bigint")
        .alias("n_dup_keys"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).cast("bigint")
        .alias("n_nonpos"))
    orphans = (o.join(F.broadcast(c),
                      o.o_custkey == c.c_custkey, "left_anti")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans")))
    b = base.crossJoin(orphans)

    def row(name: str, metric, threshold: int, ge: bool = False):
        passed = metric >= threshold if ge else metric <= threshold
        return b.select(F.lit(name).alias("expectation"),
                        metric.cast("bigint").alias("metric"),
                        F.lit(threshold).cast("bigint").alias("threshold"),
                        passed.alias("passed"))

    out = row("row_count_min_1000", F.col("n_rows"), 1000, ge=True)
    for name, colname in [("custkey_null_violations", "n_null_cust"),
                          ("status_domain_violations", "n_bad_status"),
                          ("orderkey_duplicate_rows", "n_dup_keys"),
                          ("custkey_fk_orphans", "n_orphans"),
                          ("totalprice_nonpositive", "n_nonpos")]:
        out = out.unionAll(row(name, F.col(colname), 0))
    return out


# ---------------------------------------------------------------------------
# column-entropy data profile (round 6)
# ---------------------------------------------------------------------------

_ENTROPY_PROFILE_ORACLE = """
WITH cols AS (
  SELECT 'event_type' AS col_name, event_type AS v FROM events
  UNION ALL
  SELECT 'dow', CAST(dayofweek(ts) + 1 AS VARCHAR) FROM events
  UNION ALL
  SELECT 'value_band', CAST(CAST(round(value * 100, 0) AS BIGINT)
                            // 10000 AS VARCHAR) FROM events
), c AS (
  SELECT col_name, v, CAST(COUNT(*) AS BIGINT) AS n
  FROM cols GROUP BY col_name, v
), t AS (
  SELECT col_name, v, n,
         CAST(SUM(n) OVER (PARTITION BY col_name) AS BIGINT) AS tot,
         CAST(COUNT(*) OVER (PARTITION BY col_name) AS BIGINT) AS k
  FROM c
)
SELECT col_name, CAST(MAX(k) AS BIGINT) AS n_distinct,
       CAST(MAX(tot) AS BIGINT) AS n_rows,
       round(list_sum(list(
         round(-(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
               * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
         ORDER BY v)), 6) AS entropy_nats,
       round(round(list_sum(list(
         round(-(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
               * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
         ORDER BY v)), 6) / round(ln(CAST(MAX(k) AS DOUBLE)), 6), 6)
         AS entropy_normalized
FROM t GROUP BY col_name
"""


@register("dq_column_entropy_profile", oracle=_ENTROPY_PROFILE_ORACLE)
def dq_column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy data profile of three categorical projections of
    the event feed (type, day-of-week, value band) — the profiling
    metric behind "this column became constant" / "this id column
    exploded" drift alarms, complementing dq_expectations_report's
    hard gates with distribution-shape monitoring. Each column's
    entropy is a cross-category float sum, pinned the ANOVA way: the
    per-category terms round to 9 dp and fold in a FIXED category order
    (DuckDB ordered list fold == Spark sorted-array F.aggregate fold),
    then the sum rounds to 6; normalization divides by ln(k) rounded
    the same way.

    Scale shape: one union-of-projections pass (map-side), a combinable
    (col, value) count, and per-column folds over category-bounded
    tables."""
    ev = load_table(spark, "events", sf_dir)
    cols = (ev.select(F.lit("event_type").alias("col_name"),
                      F.col("event_type").alias("v"))
            .unionAll(ev.select(F.lit("dow"),
                                F.dayofweek("ts").cast("string")))
            .unionAll(ev.select(
                F.lit("value_band"),
                F.expr("cast(cast(round(value * 100, 0) as bigint) "
                       "div 10000 as string)"))))
    c = (cols.groupBy("col_name", "v")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    wcol = Window.partitionBy("col_name")
    t = c.select("col_name", "v", "n",
                 F.sum("n").over(wcol).cast("bigint").alias("tot"),
                 F.count(F.lit(1)).over(wcol).cast("bigint").alias("k"))
    term = F.round(-(F.col("n").cast("double")
                     / F.col("tot").cast("double"))
                   * F.log(F.col("n").cast("double")
                           / F.col("tot").cast("double")), 9)
    ent = F.round(F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col("v"),
                                             term.alias("t")))),
        F.lit(0.0), lambda acc, x: acc + x["t"]), 6)
    return (t.groupBy("col_name")
            .agg(F.max("k").cast("bigint").alias("n_distinct"),
                 F.max("tot").cast("bigint").alias("n_rows"),
                 ent.alias("entropy_nats"))
            .select("col_name", "n_distinct", "n_rows", "entropy_nats",
                    F.round(F.col("entropy_nats")
                            / F.round(F.log(F.col("n_distinct")
                                            .cast("double")), 6), 6)
                    .alias("entropy_normalized")))


# ---------------------------------------------------------------------------
# population-stability-index distribution drift (round 6)
# ---------------------------------------------------------------------------

_PSI_ORACLE = """
WITH base AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
         dayofmonth(ts) <= 15 AS first_half
  FROM events WHERE event_type = 'purchase'
), bucketed AS (
  SELECT LEAST(9, cents // 5000) AS bucket,
         CAST(COUNT(*) FILTER (WHERE first_half) AS BIGINT) AS n_first,
         CAST(COUNT(*) FILTER (WHERE NOT first_half) AS BIGINT) AS n_second
  FROM base GROUP BY LEAST(9, cents // 5000)
), shared AS (
  SELECT bucket, n_first, n_second,
         CAST(SUM(n_first) OVER () AS BIGINT) AS tot_first,
         CAST(SUM(n_second) OVER () AS BIGINT) AS tot_second,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_buckets
  FROM bucketed
), contrib AS (
  SELECT bucket, n_first, n_second,
         -- Laplace +1 on counts (documented): PSI's ln blows up on an
         -- empty bucket; the +1 floor is the standard production guard
         (CAST(n_first + 1 AS DOUBLE)
            / CAST(tot_first + n_buckets AS DOUBLE)
          - CAST(n_second + 1 AS DOUBLE)
            / CAST(tot_second + n_buckets AS DOUBLE))
         * ln((CAST(n_first + 1 AS DOUBLE)
               / CAST(tot_first + n_buckets AS DOUBLE))
              / (CAST(n_second + 1 AS DOUBLE)
                 / CAST(tot_second + n_buckets AS DOUBLE))) AS c
  FROM shared
), fp AS (
  SELECT bucket, n_first, n_second,
         CAST(round(c * 1000000, 0) AS BIGINT) AS psi_contrib_micros
  FROM contrib
)
SELECT bucket, n_first, n_second, psi_contrib_micros,
       CAST(SUM(psi_contrib_micros) OVER () AS BIGINT) AS psi_total_micros
FROM fp
"""


@register("dq_distribution_drift_psi", oracle=_PSI_ORACLE)
def dq_distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month's purchase-value distribution -- THE model-monitoring
    drift number (PSI < 0.1 stable, > 0.25 retrain) that tells a
    pipeline its feature distribution moved BEFORE the model's accuracy
    does. Ten fixed-width cent buckets (fixed boundaries, not learned
    quantiles, so the bucketing itself cannot drift), Laplace +1 count
    floors (PSI's ln is undefined on empty buckets -- the standard
    production guard, spelled identically in both engines), and each
    bucket's (p-q)*ln(p/q) contribution converted ONCE to exact
    integer MICRO-units (round(c*1e6) as BIGINT, the fixed-point
    recipe) -- so the per-bucket rows AND the total are plain integer
    arithmetic, order-free and hash-exact; ln is the one 6-dp-class
    transcendental (regr_*/zipf precedent).

    Scale shape: one combinable conditional groupBy collapses the
    corpus to <= 10 bucket rows; windows and the total fold run over
    those 10 rows -- data-size-free after the first exchange."""
    ev = load_table(spark, "events", sf_dir) \
        .where(F.col("event_type") == "purchase")
    cents = round_cents("value")
    first = F.dayofmonth("ts") <= 15
    bucketed = (ev.select(F.least(F.lit(9), F.floor(cents / 5000))
                          .alias("bucket"), first.alias("fh"))
                .groupBy("bucket")
                .agg(F.count(F.when(F.col("fh"), 1)).cast("bigint")
                     .alias("n_first"),
                     F.count(F.when(~F.col("fh"), 1)).cast("bigint")
                     .alias("n_second")))
    w = Window.partitionBy()
    shared = bucketed.select(
        "bucket", "n_first", "n_second",
        F.sum("n_first").over(w).cast("bigint").alias("tot_first"),
        F.sum("n_second").over(w).cast("bigint").alias("tot_second"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_buckets"))
    p = ((F.col("n_first") + 1).cast("double")
         / (F.col("tot_first") + F.col("n_buckets")).cast("double"))
    q = ((F.col("n_second") + 1).cast("double")
         / (F.col("tot_second") + F.col("n_buckets")).cast("double"))
    c = (p - q) * F.log(p / q)
    fp = shared.select(
        "bucket", "n_first", "n_second",
        F.round(c * 1000000, 0).cast("bigint").alias("psi_contrib_micros"))
    return fp.select(
        "bucket", "n_first", "n_second", "psi_contrib_micros",
        F.sum("psi_contrib_micros").over(Window.partitionBy())
        .cast("bigint").alias("psi_total_micros"))


# ---------------------------------------------------------------------------
# ER blocking quality report (round 6)
# ---------------------------------------------------------------------------

_BQ_W = 3
_BQ_DIFF = 100

_ER_QUALITY_ORACLE = f"""
WITH keyed AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
), truth AS (
  SELECT a.c_mktsegment, a.c_custkey AS a_key, b.c_custkey AS b_key
  FROM keyed a JOIN keyed b
    ON a.c_mktsegment = b.c_mktsegment AND a.c_custkey < b.c_custkey
  WHERE abs(a.cents - b.cents) <= {_BQ_DIFF}
), ranked AS (
  SELECT c_mktsegment, c_custkey, cents,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY cents, c_custkey) AS rk
  FROM keyed
), cand AS (
  SELECT a.c_mktsegment,
         LEAST(a.c_custkey, b.c_custkey) AS a_key,
         GREATEST(a.c_custkey, b.c_custkey) AS b_key,
         abs(a.cents - b.cents) <= {_BQ_DIFF} AS survives
  FROM ranked a JOIN ranked b
    ON a.c_mktsegment = b.c_mktsegment
   AND b.rk BETWEEN a.rk + 1 AND a.rk + {_BQ_W}
), seg AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
  FROM keyed GROUP BY c_mktsegment
), stats AS (
  SELECT s.c_mktsegment, s.n,
         s.n * (s.n - 1) // 2 AS n_all_pairs,
         (SELECT COUNT(*) FROM truth t
          WHERE t.c_mktsegment = s.c_mktsegment) AS n_true,
         (SELECT COUNT(*) FROM cand c
          WHERE c.c_mktsegment = s.c_mktsegment) AS n_candidates,
         (SELECT COUNT(*) FROM cand c JOIN truth t
          ON c.c_mktsegment = t.c_mktsegment
         AND c.a_key = t.a_key AND c.b_key = t.b_key
          WHERE c.c_mktsegment = s.c_mktsegment) AS n_caught
  FROM seg s
)
SELECT c_mktsegment,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_caught AS BIGINT) AS n_caught,
       1.0 - CAST(n_candidates AS DOUBLE) / CAST(n_all_pairs AS DOUBLE)
         AS reduction_ratio,
       CASE WHEN n_true = 0 THEN 1.0
            ELSE CAST(n_caught AS DOUBLE) / CAST(n_true AS DOUBLE) END
         AS pairs_completeness
FROM stats
"""


@register("er_blocking_quality_report", oracle=_ER_QUALITY_ORACLE)
def er_blocking_quality_report(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Blocking-quality audit for the sorted-neighborhood ER scheme:
    per segment, REDUCTION RATIO (share of the quadratic pair space the
    w=3 window never generates) against PAIRS COMPLETENESS (share of
    true <=100-cent pairs the window actually catches) -- the
    two-number tradeoff every blocking design is judged by (the
    llm_lsh_tuning_report of classical ER). Ground truth comes from a
    value-BANDED self-join (each true pair differs by <=100 cents, so
    bucketing by cents//100 and probing the 3 adjacent buckets finds
    all of them -- the join_interval_binned discipline, never the
    quadratic join the ORACLE is allowed to run at its scale);
    candidates replay the lead()-window generation. All counts exact;
    two divisions per segment.

    Scale shape: ground truth is the banded equi-join (density-bounded
    per bucket); candidates are map-side off one segment sort; the
    intersection is a pair-keyed join; everything folds to 5 segment
    rows."""
    c = load_table(spark, "customer", sf_dir)
    cents = round_cents("c_acctbal")
    keyed = c.select("c_custkey", "c_mktsegment", cents.alias("cents"))
    # ground truth via value-banded self-join
    a = keyed.select("c_mktsegment", F.col("c_custkey").alias("ak"),
                     F.col("cents").alias("ac"),
                     F.floor(F.col("cents") / _BQ_DIFF).alias("bucket"))
    boff = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    b = (keyed.select("c_mktsegment", F.col("c_custkey").alias("bk"),
                      F.col("cents").alias("bc"),
                      F.floor(F.col("cents") / _BQ_DIFF).alias("bb"))
         .select("*", boff.alias("off"))
         .select("c_mktsegment", "bk", "bc",
                 (F.col("bb") + F.col("off")).alias("bucket")))
    truth = (a.join(b, ["c_mktsegment", "bucket"])
             .where((F.col("ak") < F.col("bk"))
                    & (F.abs(F.col("ac") - F.col("bc")) <= _BQ_DIFF))
             .select("c_mktsegment", F.col("ak").alias("a_key"),
                     F.col("bk").alias("b_key"))
             .distinct())
    # candidates replay the lead()-window generation
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    leads = keyed.select(
        "c_mktsegment", "c_custkey", "cents",
        F.array(*[F.struct(F.lead("c_custkey", k).over(w).alias("bk"))
                  for k in range(1, _BQ_W + 1)]).alias("nbrs"))
    cand = (leads.select("c_mktsegment",
                         F.col("c_custkey").alias("a0"),
                         F.explode("nbrs").alias("nb"))
            .where(F.col("nb.bk").isNotNull())
            .select("c_mktsegment",
                    F.least("a0", F.col("nb.bk")).alias("a_key"),
                    F.greatest("a0", F.col("nb.bk")).alias("b_key")))
    seg = keyed.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    nt = truth.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"))
    nc = cand.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    caught = (cand.join(truth, ["c_mktsegment", "a_key", "b_key"])
              .groupBy("c_mktsegment")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_caught")))
    # Coalesce BEFORE deriving the ratios: after the left joins a segment
    # with zero true pairs carries NULL, and a `when(col == 0, ...)` guard
    # on the raw column is never true for NULL — the sf0.001 corpus (no
    # within-band duplicate pair anywhere) turned completeness NULL where
    # the vacuous-truth convention (and the oracle) says 1.0.
    nt_c = F.coalesce("n_true", F.lit(0)).cast("bigint")
    nc_c = F.coalesce("n_candidates", F.lit(0)).cast("bigint")
    ng_c = F.coalesce("n_caught", F.lit(0)).cast("bigint")
    out = (seg.join(nt, "c_mktsegment", "left")
           .join(nc, "c_mktsegment", "left")
           .join(caught, "c_mktsegment", "left")
           .select("c_mktsegment",
                   nt_c.alias("n_true"),
                   nc_c.alias("n_candidates"),
                   ng_c.alias("n_caught"),
                   (F.lit(1.0) - nc_c.cast("double")
                    / (F.col("n") * (F.col("n") - 1) / 2).cast("double"))
                   .alias("reduction_ratio"),
                   F.when(nt_c == 0, F.lit(1.0))
                   .otherwise(ng_c.cast("double") / nt_c.cast("double"))
                   .alias("pairs_completeness")))
    return out
