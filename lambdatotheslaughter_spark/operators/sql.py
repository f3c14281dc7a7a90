"""SQL-surface operators: subqueries, pivot/unpivot, DataFrame API
equivalents, change-data capture and SCD2 dimension history."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import (cavg, csum, iround,
                                                    oracle_cavg)
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.session import scoped_conf
from lambdatotheslaughter_spark.tables import load_table


# ---------------------------------------------------------------------------
# GROUP BY / ORDER BY ordinals (SQL surface)
# ---------------------------------------------------------------------------

_ORDINAL_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS qty_cents
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("sql_group_by_ordinal", oracle=_ORDINAL_ORACLE)
def sql_group_by_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY 1, 2 / ORDER BY ordinals — the positional-reference SQL
    surface (spark.sql.groupByOrdinal / orderByOrdinal, both default
    true) every hand-written analyst query leans on; the oracle runs
    the IDENTICAL text on DuckDB so the ordinal RESOLUTION — not a
    hand-expanded rewrite — is what parity verifies (the
    sql_group_by_all precedent).

    Scale shape: resolved entirely in the analyzer; the physical plan
    is the plain 6-group partial+final hash aggregate."""
    load_table(spark, "lineitem", sf_dir) \
        .createOrReplaceTempView("lts_li_ord_v")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS qty_cents
        FROM lts_li_ord_v
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY 1, 2
        ORDER BY 1, 2
    """)


# ---------------------------------------------------------------------------
# NATURAL JOIN / JOIN USING surface
# ---------------------------------------------------------------------------

_NATURAL_ORACLE = """
WITH o AS (
  SELECT o_custkey AS custkey, o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), c AS (
  SELECT c_custkey AS custkey, c_mktsegment FROM customer
), nat AS (
  SELECT 'natural' AS variant, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM o NATURAL JOIN c GROUP BY c_mktsegment
), usg AS (
  SELECT 'using' AS variant, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM o JOIN c USING (custkey) GROUP BY c_mktsegment
)
SELECT * FROM nat UNION ALL SELECT * FROM usg
"""


@register("sql_natural_using_join", oracle=_NATURAL_ORACLE)
def sql_natural_using_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATURAL JOIN and JOIN USING — the two implicit-key join spellings
    (common-column inference vs named shared column), run side by side
    over the same aliased views and REQUIRED to agree; the oracle runs
    the IDENTICAL text on DuckDB so the key-inference semantics — one
    output column per shared name, no duplicate key columns — are what
    parity verifies (the sql_group_by_ordinal precedent).

    Scale shape: both variants resolve to the same hash equi-join plan;
    the sugar is analyzer-only."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_nat_o_v")
    load_table(spark, "customer", sf_dir) \
        .createOrReplaceTempView("lts_nat_c_v")
    return spark.sql("""
        WITH o AS (
          SELECT o_custkey AS custkey, o_orderkey,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM lts_nat_o_v
        ), c AS (
          SELECT c_custkey AS custkey, c_mktsegment FROM lts_nat_c_v
        ), nat AS (
          SELECT 'natural' AS variant, c_mktsegment,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(cents) AS BIGINT) AS cents
          FROM o NATURAL JOIN c GROUP BY c_mktsegment
        ), usg AS (
          SELECT 'using' AS variant, c_mktsegment,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(cents) AS BIGINT) AS cents
          FROM o JOIN c USING (custkey) GROUP BY c_mktsegment
        )
        SELECT * FROM nat UNION ALL SELECT * FROM usg
    """)


def _pivot_cell(etype: str) -> str:
    return (f"(CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) "
            f"FILTER (WHERE event_type = '{etype}') AS DOUBLE) / 100.0)")


_PIVOT_ORACLE = f"""
SELECT user_id,
       {_pivot_cell('click')} AS click,
       {_pivot_cell('view')} AS view,
       {_pivot_cell('purchase')} AS purchase,
       {_pivot_cell('signup')} AS signup,
       {_pivot_cell('error')} AS error
FROM events
GROUP BY user_id
"""


@register("pivot_wide", oracle=_PIVOT_ORACLE)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with EXPLICIT pivot values — never let Spark infer
    them (extra job + nondeterministic column order). Single shuffle."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(csum("value"))
    )


_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT user_id,
         COUNT(*) FILTER (WHERE event_type = 'click') AS click,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase
  FROM events GROUP BY user_id
)
SELECT user_id, 'click' AS event_type, click AS n FROM wide
UNION ALL
SELECT user_id, 'purchase' AS event_type, purchase AS n FROM wide
"""


@register("unpivot_long", oracle=_UNPIVOT_ORACLE)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot (wide → long), the inverse of pivot_wide."""
    ev = load_table(spark, "events", sf_dir)
    wide = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("click"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchase"),
    )
    return wide.unpivot("user_id", ["click", "purchase"], "event_type", "n")


_SUB_SCALAR_ORACLE = f"""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 2 * (SELECT {oracle_cavg('o_totalprice')} FROM orders)
"""


@register("sub_scalar", oracle=_SUB_SCALAR_ORACLE)
def sub_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above 2× the global average price. The scalar
    is a 1-row broadcast cross join — no driver-side collect, so the plan
    stays fully distributed and re-optimizable."""
    o = load_table(spark, "orders", sf_dir)
    avg_df = o.agg(cavg("o_totalprice").alias("avg_price"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .where(F.col("o_totalprice") > 2 * F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


_SUB_CORR_ORACLE = f"""
SELECT p_partkey, p_brand, p_retailprice, brand_avg
FROM (
  SELECT p_partkey, p_brand, p_retailprice,
         (SELECT {oracle_cavg('p2.p_retailprice')}
          FROM part p2 WHERE p2.p_brand = part.p_brand) AS brand_avg
  FROM part
)
WHERE p_retailprice > 1.5 * brand_avg
"""


@register("sub_correlated", oracle=_SUB_CORR_ORACLE)
def sub_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subquery (parts priced ≥1.5× their brand average),
    hand-decorrelated into a window aggregate — the rewrite Catalyst itself
    performs (SURVEY §4), checked against DuckDB's genuinely correlated
    form."""
    p = load_table(spark, "part", sf_dir)
    w = Window.partitionBy("p_brand")
    brand_avg = (F.sum(iround(F.col("p_retailprice") * 100)).over(w)
                 .cast("double") / 100.0
                 / F.count(F.lit(1)).over(w))
    return (
        p.select("p_partkey", "p_brand", "p_retailprice", brand_avg.alias("brand_avg"))
        .where(F.col("p_retailprice") > 1.5 * F.col("brand_avg"))
    )


_SQL_ENTRY = """
SELECT n_name,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       COUNT(*) AS n_orders,
       (CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        / 100.0) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)
"""


@register("sql_api_entry", oracle=_SQL_ENTRY)
def sql_api_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point (SURVEY §3): IDENTICAL SQL text runs on Spark
    (over temp views) and DuckDB — the dialect-portable subset in action."""
    for name in ("orders", "customer", "nation"):
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
    return spark.sql(_SQL_ENTRY)


_SCD2_ORACLE = """
WITH feed AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
), chg AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey FROM feed
  WHERE prev IS NULL OR prev <> o_orderpriority
)
SELECT o_custkey AS custkey, o_orderpriority AS priority,
       CAST(o_orderdate AS VARCHAR) AS valid_from,
       CAST(LEAD(o_orderdate) OVER w AS VARCHAR) AS valid_to,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       (LEAD(o_orderdate) OVER w IS NULL) AS is_current
FROM chg
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("scd2_dimension_merge", oracle=_SCD2_ORACLE)
def scd2_dimension_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build — the warehouse MERGE shape:
    a change feed (orders as per-customer priority observations) collapses
    into versioned half-open validity ranges [valid_from, valid_to) with an
    `is_current` flag. Two window passes over the SAME (custkey) partition
    and (date, orderkey) sort: lag() drops consecutive no-op observations,
    then lead()/row_number() assign ranges and versions — Catalyst reuses
    one shuffle + sort for both (a single Exchange in the plan). At 100 TB
    this is one shuffle of the change feed, no self-joins; the incremental
    variant (merge today's feed into yesterday's dimension) follows by
    unioning the open-ended current rows with the new feed and re-running
    the same two windows over only the affected keys. Tie-break on
    (o_orderdate, o_orderkey) makes same-day flip-flops deterministic in
    both engines. Dates emitted as ISO strings (timestamp cells cross the
    Spark/DuckDB pandas boundary as different types)."""
    o = load_table(spark, "orders", sf_dir)
    feed = o.select("o_custkey", "o_orderpriority", "o_orderdate",
                    "o_orderkey")
    scd = scd2_collapse(feed, key="o_custkey", attr="o_orderpriority",
                        ord_cols=["o_orderdate", "o_orderkey"],
                        valid_col="o_orderdate")
    return scd.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "version",
        "is_current")


def scd2_collapse(feed: DataFrame, key: str, attr: str,
                  ord_cols: list, valid_col: str) -> DataFrame:
    """The SCD2 core, shared by the batch operator and the streaming
    foreachBatch incremental merge (tests/test_streaming.py): collapse a
    change feed into versioned ranges. Output keeps the feed columns and
    adds version / valid_to (the NEXT range's `valid_col`) / is_current.
    Both window passes share one (key) shuffle + one sort — plan-pinned
    in tests/test_plans.py."""
    w = Window.partitionBy(key).orderBy(*ord_cols)
    chg = (feed.withColumn("prev", F.lag(attr).over(w))
           .where(F.col("prev").isNull() | (F.col("prev") != F.col(attr)))
           .drop("prev"))
    return (chg.withColumn("version", F.row_number().over(w).cast("bigint"))
            .withColumn("valid_to", F.lead(valid_col).over(w))
            .withColumn("is_current", F.col("valid_to").isNull()))


_EXISTS_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment, round(c.c_acctbal, 2) AS acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '5-LOW')
"""


@register("sub_exists_not_exists", oracle=_EXISTS_ORACLE)
def sub_exists_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries — the remaining subquery
    surface beyond sub_scalar/sub_correlated: customers with at least one
    big-ticket order and zero low-priority orders. IDENTICAL SQL text runs
    on both engines (dialect-portable subset). Catalyst rewrites the pair
    into a LEFT SEMI + LEFT ANTI join on o_custkey — hash joins, not
    per-row subquery execution, so the shape is two shuffles of the
    (filtered, column-pruned) orders key column at any scale."""
    for name in ("orders", "customer"):
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
    return spark.sql(_EXISTS_ORACLE)


_CDC_ORACLE = """
WITH last AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1
)
SELECT COALESCE(c.c_custkey, l.user_id) AS key,
       round(CASE WHEN l.user_id IS NULL THEN c.c_acctbal
                  ELSE l.value END, 6) AS value,
       CASE WHEN l.user_id IS NULL THEN 'base' ELSE 'cdc' END AS src
FROM customer c FULL JOIN last l ON c.c_custkey = l.user_id
WHERE l.user_id IS NULL OR l.event_type <> 'purchase'
"""


@register("cdc_apply_changelog", oracle=_CDC_ORACLE)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply — the MERGE INTO shape completing the
    warehouse trio (scd2_dimension_merge keeps history,
    stream_upsert_latest serves the stream, this APPLIES a change batch
    to a base snapshot): events act as a changelog keyed by user
    (purchase = delete, anything else = upsert of `value`), customers are
    the base. Latest-wins per key (total order ts desc, event_id desc),
    then a FULL OUTER join merges: unchanged base rows pass through,
    upserts replace or insert, deletes drop the key. Scale shape: one
    window shuffle on the changelog key + one co-partitioned outer join —
    the changelog never amplifies, and in production the same dataflow is
    the idempotent MERGE a transactional table format executes."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    last = (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type", "value"))
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_acctbal")
    m = c.join(last, c.c_custkey == last.user_id, "full_outer")
    return (
        m.where(F.col("user_id").isNull() | (F.col("event_type") != "purchase"))
        .select(
            F.coalesce("c_custkey", "user_id").alias("key"),
            F.round(F.when(F.col("user_id").isNull(), F.col("c_acctbal"))
                    .otherwise(F.col("value")), 6).alias("value"),
            F.when(F.col("user_id").isNull(), F.lit("base"))
            .otherwise(F.lit("cdc")).alias("src"))
    )


_IN_SUBQ_ORACLE = """
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 350000)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderstatus = 'P')
GROUP BY n_name
"""


@register("sub_in_not_in", oracle=_IN_SUBQ_ORACLE)
def sub_in_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN subqueries — the membership-subquery surface
    completing sub_scalar / sub_correlated / sub_exists_not_exists:
    per-nation count of customers with a big-ticket order and no pending
    order. IDENTICAL SQL text on both engines. Catalyst plans IN as LEFT
    SEMI and NOT IN as null-aware LEFT ANTI — hash joins on the
    (filtered, pruned) key column. NOT IN's three-valued logic is the
    trap (one NULL in the subquery empties the result); o_custkey is
    non-nullable here, and at scale the null-aware anti join is why NOT
    IN on a nullable key forces a broadcast — prefer NOT EXISTS there."""
    for name in ("orders", "customer", "nation"):
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
    return spark.sql(_IN_SUBQ_ORACLE)


_REPORT_SQL = """
WITH seg_rev AS (
  SELECT c_mktsegment AS segment, c_custkey,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents,
         COUNT(*) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, c_custkey
), seg_stats AS (
  SELECT segment,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS seg_cents
  FROM seg_rev GROUP BY segment
), ranked AS (
  SELECT segment, c_custkey, cents,
         ROW_NUMBER() OVER (PARTITION BY segment
                            ORDER BY cents DESC, c_custkey) AS rn
  FROM seg_rev
)
SELECT s.segment, s.n_customers, s.seg_cents,
       (CAST(s.seg_cents AS DOUBLE) / s.n_customers / 100.0)
         AS avg_cust_revenue,
       r.c_custkey AS top_custkey,
       (CAST(r.cents AS DOUBLE) / 100.0) AS top_cust_revenue
FROM seg_stats s JOIN ranked r ON s.segment = r.segment AND r.rn = 1
"""


@register("sql_report_cte_chain", oracle=_REPORT_SQL)
def sql_report_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analyst-report shape: a 3-CTE chain (per-customer revenue →
    per-segment stats → tie-pinned top customer) joined into one result,
    IDENTICAL SQL text on both engines — sql_api_entry's single-block
    portability claim extended to the multi-CTE programs real dashboards
    run. Money stays in exact integer cents through every CTE and
    converts to double exactly once at the edge (the engine's
    determinism discipline, expressed in portable SQL). Catalyst plans
    the chain as ordinary nested plans — CTEs are not materialization
    barriers — so the whole report is one optimizable tree: segment agg
    reuses the seg_rev shuffle, the window tops it, no CTE re-execution."""
    for name in ("orders", "customer"):
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
    return spark.sql(_REPORT_SQL)


_RCTE_SQL = """
WITH RECURSIVE chain(custkey, root, k) AS (
  SELECT o_custkey, o_orderkey, o_orderkey FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM orders p
                    WHERE p.o_custkey = o.o_custkey
                      AND p.o_orderkey = o.o_orderkey - 1)
  UNION ALL
  SELECT c.custkey, c.root, n.o_orderkey
  FROM chain c JOIN orders n
    ON n.o_custkey = c.custkey AND n.o_orderkey = c.k + 1
)
SELECT custkey, root AS chain_start, CAST(COUNT(*) AS BIGINT) AS chain_len,
       CAST(MAX(k) AS BIGINT) AS chain_end
FROM chain GROUP BY custkey, root
"""


@register("sql_recursive_cte", oracle=_RCTE_SQL)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (SQL:1999, new in Spark 4) running the IDENTICAL
    query text on both engines: per-customer chains of CONSECUTIVE order
    keys, found by anchoring on chain heads (no predecessor key for the
    same customer — a portable NOT EXISTS) and recursively extending by
    key+1. Genuine fixpoint recursion — iteration depth is the longest
    chain in the data, not a constant — where every prior iterative op
    (PageRank, BPE, CC) had to drive the loop from Python; this moves the
    loop INTO the engine. Each recursive step is an equi-join of the
    frontier against orders; termination is structural (keys strictly
    increase and are finite). Scale: the frontier shrinks every round and
    joins on the (custkey, key) composite — a bounded-fan hash join per
    step, embarrassingly parallel across chains."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(_RCTE_SQL)


_PIPE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS rev_cents,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
"""


@register("sql_pipe_syntax", oracle=_PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's `|>` operator chaining — the
    FROM-first dataflow form): filter → aggregate → project reads in
    EXECUTION order instead of inside-out SQL. Same Catalyst plan as the
    classic formulation — pipes are pure surface syntax, so pushdown,
    partial aggregation, and codegen are unchanged; the DuckDB oracle IS
    the classic formulation of the same query (pipe syntax is
    Spark-side), making the op a two-dialect equivalence check. Money in
    integer cents end-to-end."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql("""
FROM orders
|> WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
|> AGGREGATE COUNT(*) AS n_orders,
             SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_cents,
             COUNT(DISTINCT o_custkey) AS n_customers
   GROUP BY o_orderpriority
|> SELECT o_orderpriority, CAST(n_orders AS BIGINT) AS n_orders,
          CAST(rev_cents AS BIGINT) AS rev_cents,
          CAST(n_customers AS BIGINT) AS n_customers
""")


_PARAM_SQL_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS rev_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-06-01 00:00:00'
  AND o_totalprice < 150000.0
GROUP BY o_orderpriority
"""


@register("sql_parameterized", oracle=_PARAM_SQL_ORACLE)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named parameter markers, Spark >= 3.4): the
    query text carries `:cutoff` / `:price_cap` placeholders and values
    arrive via `args` — the injection-safe templating surface every
    dashboard and report runner needs (string-concatenated literals are
    both a correctness and a security bug at that layer). The markers
    bind as typed literals BEFORE analysis, so constant folding and
    pushdown see real constants — same plan as hand-inlined literals;
    the oracle is the literal-inlined twin."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders
        WHERE o_orderdate >= :cutoff AND o_totalprice < :price_cap
        GROUP BY o_orderpriority
        """,
        args={"cutoff": "1996-06-01 00:00:00", "price_cap": 150000.0})


_TRANSPOSE_ORACLE = """
WITH m AS (
  SELECT r_name,
         CAST(COUNT(*) AS DOUBLE) AS n_nations,
         CAST(SUM(n_nationkey) AS DOUBLE) AS key_sum
  FROM region JOIN nation ON r_regionkey = n_regionkey
  GROUP BY r_name
)
SELECT 'n_nations' AS key,
       MAX(CASE WHEN r_name = 'AFRICA' THEN n_nations END) AS "AFRICA",
       MAX(CASE WHEN r_name = 'AMERICA' THEN n_nations END) AS "AMERICA",
       MAX(CASE WHEN r_name = 'ASIA' THEN n_nations END) AS "ASIA",
       MAX(CASE WHEN r_name = 'EUROPE' THEN n_nations END) AS "EUROPE",
       MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN n_nations END) AS "MIDDLE EAST"
FROM m
UNION ALL
SELECT 'key_sum',
       MAX(CASE WHEN r_name = 'AFRICA' THEN key_sum END),
       MAX(CASE WHEN r_name = 'AMERICA' THEN key_sum END),
       MAX(CASE WHEN r_name = 'ASIA' THEN key_sum END),
       MAX(CASE WHEN r_name = 'EUROPE' THEN key_sum END),
       MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN key_sum END)
FROM m
"""


@register("df_transpose", oracle=_TRANSPOSE_ORACLE)
def df_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (new in Spark 4): flip a small per-region
    metrics table so metrics become rows and regions become columns —
    the report-orientation swap analysts otherwise hand-write as N CASE
    projections (the oracle IS that hand-written form, making this a
    semantics cross-check of the new API). Contractually driver-bounded:
    the transposed schema = one column per input ROW, so it is for
    aggregate summaries (here 5 regions), never fact tables; metric
    values are cast to a common double type since a transposed column
    mixes former row cells."""
    r = load_table(spark, "region", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    m = (r.join(n, r.r_regionkey == n.n_regionkey)
         .groupBy("r_name")
         .agg(F.count(F.lit(1)).cast("double").alias("n_nations"),
              F.sum("n_nationkey").cast("double").alias("key_sum"))
         .orderBy("r_name"))
    return m.transpose(F.col("r_name"))


# ---------------------------------------------------------------------------
# ANY/ALL quantified-comparison subqueries (round 5)
# ---------------------------------------------------------------------------

_ANY_ALL_ORACLE = """
SELECT s_suppkey, s_acctbal,
       s_acctbal > ALL (SELECT s_acctbal FROM supplier s2
                        JOIN nation n ON s2.s_nationkey = n.n_nationkey
                        WHERE n.n_name = 'NATION_7') AS beats_all_n7,
       s_acctbal > ANY (SELECT s_acctbal FROM supplier s2
                        JOIN nation n ON s2.s_nationkey = n.n_nationkey
                        WHERE n.n_name = 'NATION_3') AS beats_any_n3
FROM supplier
WHERE s_suppkey <= 500
"""


@register("sub_any_all_rewrite", oracle=_ANY_ALL_ORACLE)
def sub_any_all_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparisons (`> ALL` / `> ANY`) — SQL surface Spark's
    parser does NOT accept, so the engine provides the standard rewrite:
    for a null-free subquery set, ``x > ALL S ⟺ S = ∅ OR x > max(S)``
    and ``x > ANY S ⟺ S ≠ ∅ AND x > min(S)``. The extrema and the row
    counts (the empty-set legs) are scalar aggregates broadcast as a
    1-row cross join, exactly how a correlated decorrelation pass would
    plan it; the oracle runs DuckDB's NATIVE ALL/ANY, so the rewrite is
    value-verified, not self-certified.

    Scale shape: one tiny scalar-aggregate pass (map-side combine to one
    row) + a broadcast nested-loop of width 1 — no shuffle of the outer
    table at any scale."""
    s = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_acctbal", "s_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    in_a = F.col("n_name") == "NATION_7"
    in_b = F.col("n_name") == "NATION_3"
    extrema = sn.agg(
        F.max(F.when(in_a, F.col("s_acctbal"))).alias("max_a"),
        F.count(F.when(in_a, F.lit(1))).alias("n_a"),
        F.min(F.when(in_b, F.col("s_acctbal"))).alias("min_b"),
        F.count(F.when(in_b, F.lit(1))).alias("n_b"))
    return (s.where(F.col("s_suppkey") <= 500)
            .crossJoin(F.broadcast(extrema))
            .select("s_suppkey", "s_acctbal",
                    F.when(F.col("n_a") == 0, F.lit(True))
                    .otherwise(F.col("s_acctbal") > F.col("max_a"))
                    .alias("beats_all_n7"),
                    F.when(F.col("n_b") == 0, F.lit(False))
                    .otherwise(F.col("s_acctbal") > F.col("min_b"))
                    .alias("beats_any_n3")))


# ---------------------------------------------------------------------------
# EXECUTE IMMEDIATE (round 5)
# ---------------------------------------------------------------------------

_EXEC_IMM_ORACLE = """
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders WHERE o_orderkey < 500 AND o_orderpriority = '1-URGENT'
"""


@register("sql_execute_immediate", oracle=_EXEC_IMM_ORACLE)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4 SQL scripting surface): a query held as
    a STRING, executed with positional parameters — the dynamic-SQL
    entry point migrations from stored-procedure warehouses expect.
    Complements sql_parameterized (API-level spark.sql(args=...)): here
    the parameter binding happens inside the SQL language itself, so a
    pure-SQL client can do it. Parameters are real bind values, not
    string splices — the injection-safe path."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_orders_exec_v")
    return spark.sql("""
        EXECUTE IMMEDIATE
          'SELECT o_orderkey, o_orderpriority, o_totalprice
           FROM lts_orders_exec_v
           WHERE o_orderkey < ? AND o_orderpriority = ?'
          USING 500, '1-URGENT'
    """)


# ---------------------------------------------------------------------------
# SQL-language scalar function DDL (round 5)
# ---------------------------------------------------------------------------

_SQL_FN_ORACLE = """
SELECT l_orderkey, l_linenumber, l_discount,
       CASE WHEN l_discount < 0.02 THEN 'low'
            WHEN l_discount < 0.06 THEN 'mid'
            ELSE 'high' END AS disc_band
FROM lineitem WHERE l_orderkey < 2000
"""


@register("sql_scalar_function_ddl", oracle=_SQL_FN_ORACLE)
def sql_scalar_function_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language scalar function (CREATE FUNCTION … RETURN expr,
    Spark 3.5 SQL UDFs): the analyst extension point that needs NO
    Python at all — the body is an expression the catalyst inlines into
    the calling plan, so unlike udf_python_scalar (same banding logic,
    serde boundary) this stays in whole-stage codegen; it is the
    preferred form for any UDF expressible as SQL. Registration is
    session-idempotent via OR REPLACE."""
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION lts_disc_band(d DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN d < 0.02 THEN 'low'
                    WHEN d < 0.06 THEN 'mid'
                    ELSE 'high' END
    """)
    load_table(spark, "lineitem", sf_dir) \
        .createOrReplaceTempView("lts_lineitem_fn_v")
    return spark.sql("""
        SELECT l_orderkey, l_linenumber, l_discount,
               lts_disc_band(l_discount) AS disc_band
        FROM lts_lineitem_fn_v WHERE l_orderkey < 2000
    """)


# ---------------------------------------------------------------------------
# SQL session variables (round 5)
# ---------------------------------------------------------------------------

_SESSION_VAR_ORACLE = """
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders WHERE o_orderkey < 800
"""


@register("sql_session_variables", oracle=_SESSION_VAR_ORACLE)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session VARIABLES (Spark 4 DECLARE / SET VAR): typed,
    session-scoped state referenced directly in query text — the
    pure-SQL scripting companion to sql_parameterized (API binds) and
    sql_execute_immediate (dynamic SQL): parameterize once, reuse
    across statements, no string splicing. The variable is set to a
    DIFFERENT value than its DEFAULT so the test proves SET VAR is
    actually read."""
    spark.sql("DECLARE OR REPLACE VARIABLE lts_key_cap BIGINT DEFAULT 500")
    spark.sql("SET VAR lts_key_cap = 800")
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_orders_var_v")
    return spark.sql("""
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM lts_orders_var_v WHERE o_orderkey < lts_key_cap
    """)


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL (round 5, batch 8)
# ---------------------------------------------------------------------------

_GBY_ALL_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_qty_cents,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY ALL ORDER BY ALL
"""


@register("sql_group_by_all", oracle=_GBY_ALL_ORACLE)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL — the analyst-ergonomics SQL surface
    (Spark 3.4+/4) that infers the grouping key set from the
    non-aggregate select items and the sort key from the whole select
    list. The oracle runs the IDENTICAL text on DuckDB (which pioneered
    the syntax), so the inference itself — not a hand-expanded rewrite —
    is what parity verifies.

    Scale shape: identical plan to the explicit GROUP BY (one partial +
    final hash aggregate on a 6-group key space); the sugar is resolved
    entirely in the analyzer, so nothing changes at the physical layer —
    which is exactly the claim worth pinning."""
    load_table(spark, "lineitem", sf_dir) \
        .createOrReplaceTempView("lts_li_gba_v")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_qty_cents,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lts_li_gba_v WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY ALL ORDER BY ALL
    """)


# ---------------------------------------------------------------------------
# named WINDOW clause (round 5, batch 8)
# ---------------------------------------------------------------------------

_WIN_CLAUSE_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(SUM(cents) OVER w AS BIGINT) AS run_cents
FROM (SELECT o_custkey, o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM {src} WHERE o_orderkey < 20000)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
"""


@register("sql_window_clause_named",
          oracle=_WIN_CLAUSE_SQL.format(src="orders"))
def sql_window_clause_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause in SQL text: one `WINDOW w AS (...)` spec
    shared by several window functions — the declare-once surface that
    keeps multi-function analytic queries maintainable (and guarantees
    the functions share one frame definition rather than drifting
    apart). Same text runs on both engines.

    Scale shape: Spark resolves every `OVER w` to the same
    (partition, order) spec, so ALL window functions share ONE exchange
    and one sort — the named clause is how the SQL author gets the
    shared-exchange plan the DataFrame API gets from reusing a Window
    object."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_ord_winclause_v")
    return spark.sql(_WIN_CLAUSE_SQL.format(src="lts_ord_winclause_v"))


# ---------------------------------------------------------------------------
# VALUES inline table (round 5, batch 9)
# ---------------------------------------------------------------------------

_VALUES_SQL = """
SELECT g.tier, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM {src} o
JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'), ('3-MEDIUM', 'warm'),
             ('4-NOT SPECIFIED', 'cold'), ('5-LOW', 'cold'))
     AS g(prio, tier)
  ON o.o_orderpriority = g.prio
GROUP BY g.tier
"""


@register("sql_values_inline_table", oracle=_VALUES_SQL.format(src="orders"))
def sql_values_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES table in the FROM clause — the zero-ceremony lookup/
    mapping table every analyst reaches for (priority → tier here)
    without creating a view or a temp table. Same text runs on both
    engines.

    Scale shape: the VALUES relation is a LocalRelation — Catalyst
    broadcast-joins it against the fact scan (5 rows never shuffle the
    600k side), then the tier aggregate collapses map-side. This is the
    canonical tiny-dim pattern expressed purely in SQL."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_ord_vals_v")
    return spark.sql(_VALUES_SQL.format(src="lts_ord_vals_v"))


# ---------------------------------------------------------------------------
# HiveQL LATERAL VIEW (round 5, batch 9)
# ---------------------------------------------------------------------------

_LATERAL_VIEW_ORACLE = """
SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       CAST(unnest(range(0, len(string_split(text, ' ')))) AS BIGINT) AS pos
FROM documents WHERE doc_id < 50
"""


@register("sql_lateral_view_explode", oracle=_LATERAL_VIEW_ORACLE)
def sql_lateral_view_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiveQL `LATERAL VIEW posexplode(...) t AS pos, tok` — the legacy
    warehouse syntax a decade of Hive pipelines are written in; Spark
    keeps it as a first-class generator surface beside the ANSI
    DataFrame explode (explode_posexplode tests that one). The oracle
    re-expresses it with DuckDB's parallel-unnest zip, so parity checks
    generator SEMANTICS (per-row fan-out + 0-based position) across
    three different spellings.

    Scale shape: identical Generate node to the DataFrame explode —
    narrow per-row fan-out, no shuffle; the WHERE prunes at the scan
    below the generator."""
    load_table(spark, "documents", sf_dir) \
        .createOrReplaceTempView("lts_doc_lv_v")
    return spark.sql("""
        SELECT doc_id, tok, CAST(pos AS BIGINT) AS pos
        FROM lts_doc_lv_v
        LATERAL VIEW posexplode(split(text, ' ')) t AS pos, tok
        WHERE doc_id < 50
    """)


# ---------------------------------------------------------------------------
# DISTRIBUTE BY / SORT BY physical-layout clauses (round 5, batch 9)
# ---------------------------------------------------------------------------

_DIST_SORT_ORACLE = """
SELECT event_type, CAST(user_id AS BIGINT) AS user_id,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type, user_id
"""


@register("sql_distribute_sort_by", oracle=_DIST_SORT_ORACLE)
def sql_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY / SORT BY — the Spark-SQL clauses that give a SQL
    author direct control over the PHYSICAL layout (partitioning
    exchange + within-partition order) without a total sort. This is
    how SQL users pre-shape data for a downstream partitioned write or
    a merge-friendly consumer at 100 TB: DISTRIBUTE BY hashes rows to
    partitions (one exchange, no global order), SORT BY orders inside
    each partition only — a total ORDER BY would add a range exchange
    and a global merge this query provably avoids.

    Values are partition-layout-independent (the aggregate is exact
    integer cents), so the oracle is the plain aggregate — layout
    clauses must never change CONTENT, which is exactly what parity
    pins."""
    load_table(spark, "events", sf_dir) \
        .createOrReplaceTempView("lts_ev_dist_v")
    return spark.sql("""
        SELECT event_type, CAST(user_id AS BIGINT) AS user_id,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lts_ev_dist_v GROUP BY event_type, user_id
        DISTRIBUTE BY event_type SORT BY event_type, user_id
    """)


# ---------------------------------------------------------------------------
# SQL join hints (round 5, batch 9)
# ---------------------------------------------------------------------------

_JOIN_HINT_SQL = """
SELECT {hint}c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM {o} o JOIN {c} c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("sql_join_hints",
          oracle=_JOIN_HINT_SQL.format(hint="", o="orders", c="customer"))
def sql_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL join-strategy HINT (`/*+ BROADCAST(c) */`) — the escape hatch
    when statistics mislead the planner at scale (a "small" dim that
    stats say is big, a filtered side the optimizer can't size). The
    hint forces a BroadcastHashJoin regardless of
    autoBroadcastJoinThreshold; tests/test_plans.py pins the plan, and
    the oracle (the same query, no hint) pins that hints never change
    RESULTS — the two invariants that make hints safe to ship in
    production SQL."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_ord_hint_v")
    load_table(spark, "customer", sf_dir) \
        .createOrReplaceTempView("lts_cust_hint_v")
    return spark.sql(_JOIN_HINT_SQL.format(
        hint="/*+ BROADCAST(c) */ ", o="lts_ord_hint_v",
        c="lts_cust_hint_v"))


# ---------------------------------------------------------------------------
# SQL merge-join hint (round 5, batch 10)
# ---------------------------------------------------------------------------

_MERGE_HINT_SQL = """
SELECT {hint}c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM {o} o JOIN {c} c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("sql_join_hint_merge",
          oracle=_MERGE_HINT_SQL.format(hint="", o="orders", c="customer"))
def sql_join_hint_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`/*+ SHUFFLE_MERGE(c) */` — the OTHER direction of the hint
    surface (sql_join_hints forces broadcast): force a SortMergeJoin
    when the planner would pick hash. The production case is memory
    safety at 100 TB: a hash join builds an in-memory table of the
    build side, and when stats under-estimate it (post-filter skew, a
    fat payload column) the executor OOMs — SMJ spills sort runs to
    disk instead and degrades gracefully. The plan is pinned in
    tests/test_plans.py; the no-hint oracle pins result invariance."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_ord_mhint_v")
    load_table(spark, "customer", sf_dir) \
        .createOrReplaceTempView("lts_cust_mhint_v")
    return spark.sql(_MERGE_HINT_SQL.format(
        hint="/*+ SHUFFLE_MERGE(c) */ ", o="lts_ord_mhint_v",
        c="lts_cust_mhint_v"))


# ---------------------------------------------------------------------------
# IDENTIFIER() dynamic-name resolution (round 5, batch 11)
# ---------------------------------------------------------------------------

_IDENT_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders GROUP BY o_orderpriority
"""


@register("sql_identifier_clause", oracle=_IDENT_ORACLE)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`IDENTIFIER('...' || '...')` — SQL-injection-safe DYNAMIC object
    names (Spark 3.5+): the table/view name is computed from an
    expression but parsed as an IDENTIFIER, never spliced as SQL text.
    Together with sql_parameterized (value binds) and
    sql_execute_immediate (dynamic statements) this completes the
    dynamic-SQL triad: values, names, statements — each with its own
    safe mechanism. The name here is assembled from two fragments at
    parse time, so the test proves resolution actually goes through
    the clause."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_ident_orders_v")
    return spark.sql("""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM IDENTIFIER('lts_ident_' || 'orders_v')
        GROUP BY o_orderpriority
    """)


# ---------------------------------------------------------------------------
# SELECT * EXCEPT (round 5, batch 13)
# ---------------------------------------------------------------------------

_STAR_EXCEPT_ORACLE = """
SELECT * EXCLUDE (o_orderstatus, o_orderdate, o_totalprice)
FROM orders WHERE o_orderkey < 500
"""


@register("sql_star_except", oracle=_STAR_EXCEPT_ORACLE)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT * EXCEPT (cols)` — subtractive projection (Spark 4 /
    Databricks SQL dialect; DuckDB spells it EXCLUDE): keep everything
    BUT the named columns, the ergonomic way to drop a few heavy or
    sensitive fields from a wide table without enumerating dozens of
    survivors. Parity across the two spellings pins the expansion
    semantics, and column PRUNING still applies — the excluded columns
    never leave the scan, so on a wide 100 TB table this reads less,
    not just projects less."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_ord_sexc_v")
    return spark.sql("""
        SELECT * EXCEPT (o_orderstatus, o_orderdate, o_totalprice)
        FROM lts_ord_sexc_v WHERE o_orderkey < 500
    """)


# ---------------------------------------------------------------------------
# range() table function (round 5, batch 14)
# ---------------------------------------------------------------------------

_RANGE_TF_ORACLE = """
SELECT CAST(r.range AS BIGINT) AS price_band,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
FROM range(0, 12) r
LEFT JOIN orders o
  ON CAST(floor(o.o_totalprice / 50000) AS BIGINT) = r.range
GROUP BY r.range
"""


@register("sql_table_function_range", oracle=_RANGE_TF_ORACLE)
def sql_table_function_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`range()` TABLE FUNCTION in the FROM clause — generated relations
    without a source table. The canonical use is exactly this query: a
    DENSE dimension (every price band 0..11) LEFT-joined against facts
    so empty bands report 0 instead of vanishing — the same
    no-gaps-in-the-report problem ts_resample_gapfill solves with a
    calendar spine, solved here with a generated integer spine in pure
    SQL.

    Scale shape: range() is a LocalRelation-like leaf parallelized by
    Spark's Range exec (no IO); the 12-row spine broadcasts against
    the fact scan."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_ord_range_v")
    return spark.sql("""
        SELECT r.id AS price_band,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
        FROM range(0, 12) r
        LEFT JOIN lts_ord_range_v o
          ON CAST(floor(o.o_totalprice / 50000) AS BIGINT) = r.id
        GROUP BY r.id
    """)


# ---------------------------------------------------------------------------
# SQL PIVOT clause (round 5, batch 15)
# ---------------------------------------------------------------------------

_PIVOT_SQL_ORACLE = """
SELECT CAST(user_id % 3 AS BIGINT) AS ubucket,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
            FILTER (WHERE event_type = 'click') AS BIGINT) AS click_c,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
            FILTER (WHERE event_type = 'view') AS BIGINT) AS view_c,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
            FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase_c
FROM events GROUP BY CAST(user_id % 3 AS BIGINT)
"""


@register("sql_pivot_clause", oracle=_PIVOT_SQL_ORACLE)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text `PIVOT (agg FOR col IN (...))` clause — the declarative
    long-to-wide rotation in pure SQL (pivot_wide covers the DataFrame
    API; this is the language surface). The IN list is EXPLICIT, so the
    output schema is static regardless of which categories appear —
    the property that makes PIVOT safe in production SQL where a
    data-dependent column set would break downstream consumers. The
    oracle is the FILTER-clause desugaring.

    Scale shape: one hash aggregate on (ubucket, event_type) collapsed
    map-side, then the analyzer's pivot projection — no second pass."""
    load_table(spark, "events", sf_dir) \
        .createOrReplaceTempView("lts_ev_pivot_v")
    return spark.sql("""
        SELECT ubucket, CAST(click AS BIGINT) AS click_c,
               CAST(view AS BIGINT) AS view_c,
               CAST(purchase AS BIGINT) AS purchase_c
        FROM (SELECT event_type, CAST(user_id % 3 AS BIGINT) AS ubucket,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM lts_ev_pivot_v)
        PIVOT (SUM(cents) FOR event_type IN ('click' AS click,
                                             'view' AS view,
                                             'purchase' AS purchase))
    """)


# ---------------------------------------------------------------------------
# SQL UNPIVOT clause (round 5, batch 15)
# ---------------------------------------------------------------------------

_UNPIVOT_SQL_ORACLE = """
SELECT o_orderkey, metric, val FROM (
  SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS custkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey < 2000) t
UNPIVOT (val FOR metric IN (custkey, cents))
"""


@register("sql_unpivot_clause", oracle=_UNPIVOT_SQL_ORACLE)
def sql_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text `UNPIVOT (val FOR metric IN (...))` — wide-to-long in the
    language itself (unpivot_long covers the DataFrame API). Identical
    text runs on DuckDB, pinning the shared semantics: one output row
    per (row, listed column), NULL cells dropped by default.

    Scale shape: a per-row Expand (rows × metrics), no shuffle — the
    long form is produced streaming at scan rate."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_ord_unpiv_v")
    return spark.sql("""
        SELECT o_orderkey, metric, val FROM (
          SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS custkey,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM lts_ord_unpiv_v WHERE o_orderkey < 2000) t
        UNPIVOT (val FOR metric IN (custkey, cents))
    """)


# ---------------------------------------------------------------------------
# AQE REBALANCE hint (round 5, batch 15)
# ---------------------------------------------------------------------------

_REBALANCE_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders GROUP BY o_orderpriority
"""


@register("sql_hint_rebalance", oracle=_REBALANCE_ORACLE)
def sql_hint_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`/*+ REBALANCE(col) */` — the AQE output-layout hint: redistribute
    rows so downstream partitions are evenly sized (splitting skewed
    ones, coalescing small ones at runtime). The production use is the
    WRITE path at 100 TB: a sink fed by a skewed computation emits one
    5 GB file and four hundred 2 MB ones; REBALANCE before the sink
    yields uniform files without a full sort (contrast
    sql_distribute_sort_by: fixed hash layout, no runtime adaptation).
    The aggregate downstream of the rebalance pins result invariance —
    layout hints must never change content."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_ord_rebal_v")
    return spark.sql("""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM (SELECT /*+ REBALANCE(o_orderpriority) */ *
              FROM lts_ord_rebal_v)
        GROUP BY o_orderpriority
    """)


# ---------------------------------------------------------------------------
# LEFT SEMI / ANTI JOIN SQL keywords (round 5, batch 17)
# ---------------------------------------------------------------------------

_SEMI_SQL_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment FROM customer c
SEMI JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
  ON o.o_custkey = c.c_custkey
"""


@register("sql_semi_anti_join_syntax", oracle=_SEMI_SQL_ORACLE)
def sql_semi_anti_join_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`LEFT SEMI JOIN` as SQL-text syntax — existence filtering in the
    language itself, with the filter condition INSIDE the join (the
    o_totalprice predicate is part of the ON clause, so it narrows the
    existence test, not the output). join_semi/join_anti cover the
    DataFrame API; sub_exists_not_exists covers the EXISTS spelling;
    this pins that all three spellings plan to the same LeftSemi join.
    DuckDB spells it `SEMI JOIN` — parity across dialects.

    Scale shape: semi join never materializes matches (first hit wins),
    and the probe side streams — the cheapest existence check at any
    scale."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_ord_semi_v")
    load_table(spark, "customer", sf_dir) \
        .createOrReplaceTempView("lts_cust_semi_v")
    return spark.sql("""
        SELECT c.c_custkey, c.c_mktsegment FROM lts_cust_semi_v c
        LEFT SEMI JOIN lts_ord_semi_v o
          ON o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    """)


# ---------------------------------------------------------------------------
# ORDER BY ALL (round 6)
# ---------------------------------------------------------------------------

_ORDER_ALL_ORACLE = """
SELECT o_orderstatus,
       strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
GROUP BY ALL
ORDER BY ALL
LIMIT 10
"""


@register("sql_order_by_all", oracle=_ORDER_ALL_ORACLE)
def sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ORDER BY ALL` (with `GROUP BY ALL`): the every-column
    lexicographic sort without spelling the list — the report-SQL
    convenience DuckDB popularized and Spark 4 adopted. The LIMIT makes
    the ordering SEMANTIC (the kept rows depend on the full-row order),
    so the oracle verifies ORDER BY ALL's column-order contract (select
    order, left to right), not just syntax. Identical text runs on both
    engines.

    Scale shape: combinable groupBy; ORDER BY + LIMIT plans as
    TakeOrderedAndProject (per-partition top-N, never a global sort)."""
    load_table(spark, "orders", sf_dir) \
        .createOrReplaceTempView("lts_order_all_v")
    return spark.sql("""
        SELECT o_orderstatus,
               date_format(date_trunc('month', o_orderdate), 'yyyy-MM')
                 AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(sign(o_totalprice * 100)
                             * floor(abs(o_totalprice * 100) + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lts_order_all_v
        GROUP BY ALL
        ORDER BY ALL
        LIMIT 10
    """)


# ---------------------------------------------------------------------------
# global temp views (round 6)
# ---------------------------------------------------------------------------

_GLOBAL_TEMP_ORACLE = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey < 5000
GROUP BY o_orderstatus
"""


@register("sql_global_temp_view", oracle=_GLOBAL_TEMP_ORACLE)
def sql_global_temp_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL temp views (`global_temp` database): session-scoped temp
    views die with the session, global ones are visible to EVERY session
    of the application — the handoff surface between a notebook cell
    that prepares a slice and a job thread that consumes it. The op
    registers the view, then reads it back through a NEW session
    (`spark.newSession()`) — proving the cross-session visibility that
    is the feature's whole point — and aggregates there.

    Scale shape: a view is a named plan, zero materialization; the read
    is the same pruned scan the base query would run."""
    (load_table(spark, "orders", sf_dir)
     .where(F.col("o_orderkey") < 5000)
     .createOrReplaceGlobalTempView("lts_orders_global"))
    other = spark.newSession()
    return other.sql("""
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM global_temp.lts_orders_global
        GROUP BY o_orderstatus
    """)


# ---------------------------------------------------------------------------
# SQL scripting procedural block (round 6)
# ---------------------------------------------------------------------------

_SCRIPT_ORACLE = """
WITH ks AS (
  SELECT CAST(unnest(range(0, 41)) AS BIGINT) AS k
), oc AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders
), counts AS (
  SELECT ks.k,
         CAST(100 * (CAST(1 AS BIGINT) << ks.k) AS BIGINT) AS thr,
         CAST(COUNT(CASE WHEN oc.cents > 100 * (CAST(1 AS BIGINT) << ks.k)
                         THEN 1 END) AS BIGINT) AS cnt
  FROM ks CROSS JOIN oc GROUP BY ks.k
)
SELECT thr AS threshold_cents, k AS n_doublings, cnt AS n_above
FROM counts WHERE cnt < 100 ORDER BY k LIMIT 1
"""


@register("sql_scripting_block", oracle=_SCRIPT_ORACLE)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI SQL scripting (Spark 4's BEGIN…END procedural blocks):
    DECLARE'd variables and a DATA-DEPENDENT WHILE loop — double a cent
    threshold until fewer than 100 orders exceed it — the migration
    target for every stored-procedure workload a warehouse refugee
    brings (no driver-side Python loop: the control flow runs inside
    the SQL engine, each iteration one scalar-subquery job). The oracle
    is the closed form the loop computes: the least k with
    count(cents > 100·2^k) < 100, found by grading all 41 candidate
    thresholds in one conditional-count pass — loop and closed form
    must agree bit-for-bit on (threshold, k, count).

    Scale shape: fold the corpus ONCE, loop over the fold. The scan
    collapses to a 41-row (k, threshold, count-above) table in one
    combinable pass — per row the highest threshold exceeded is
    floor(log₂((cents−1) div 100)) read off the BINARY STRING LENGTH
    (no float log at a power-of-two boundary), bucket counts suffix-sum
    against the 41-row spine — and that table localCheckpoints, so each
    WHILE iteration is a scalar lookup against 41 cached rows, never a
    corpus re-scan. (A first draft issued the conditional COUNT against
    the corpus view per iteration: ~20 sequential full scans, 6.6 s at
    sf0.1 and scan-bound at 100 TB; this shape runs the same script
    text over the same semantics at corpus-independent loop cost.)"""
    with scoped_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        oc = (load_table(spark, "orders", sf_dir)
              .select(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
                      .alias("cents")))
        # highest k with cents > 100·2^k  ⟺  k ≤ floor(log2(q)), q=(cents−1)÷100
        q = F.expr("(cents - 1) div 100")
        hk = (F.length(F.bin(q)) - 1).cast("bigint")
        buckets = (oc.where(q >= 1)
                   .groupBy(hk.alias("hk"))
                   .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
        spine = spark.range(0, 41).select(F.col("id").alias("k"))
        hist = (spine.join(F.broadcast(buckets), F.col("hk") >= F.col("k"),
                           "left")
                .groupBy("k")
                .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint")
                     .alias("cnt"))
                .select("k",
                        F.expr("cast(100 * (cast(1 as bigint) "
                               "<< cast(k as int)) as bigint)").alias("thr"),
                        "cnt")
                # r11: ONE partition — every WHILE iteration's scalar
                # subquery launches a job over this table, and at the
                # session's 32 shuffle partitions each of those ~20
                # sequential jobs scheduled 32 tasks to scan 41 rows;
                # coalesce(1) makes each loop job a single task
                .coalesce(1)
                .localCheckpoint())  # loop queries hit 41 cached rows
        hist.createOrReplaceTempView("lts_script_hist")
        return spark.sql("""
        BEGIN
          DECLARE thr BIGINT DEFAULT 100;
          DECLARE kv INT DEFAULT 0;
          DECLARE cnt BIGINT DEFAULT 0;
          SET cnt = (SELECT cnt FROM lts_script_hist WHERE k = 0);
          WHILE cnt >= 100 AND kv < 40 DO
            SET kv = kv + 1;
            -- one multiple-assignment scalar subquery per iteration
            -- (round 9: two separate SETs doubled the sequential job
            -- count, and each scripting scalar job costs ~70 ms of pure
            -- scheduling against the 41 cached rows)
            SET (thr, cnt) = (SELECT thr, cnt FROM lts_script_hist
                              WHERE k = kv);
          END WHILE;
          SELECT thr AS threshold_cents, CAST(kv AS BIGINT) AS n_doublings,
                 cnt AS n_above;
        END
        """)


# ---------------------------------------------------------------------------
# incremental materialized-view refresh (round 6)
# ---------------------------------------------------------------------------

_MV_ORACLE = """
SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM events
GROUP BY event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')
"""


@register("sql_incremental_mv_refresh", oracle=_MV_ORACLE)
def sql_incremental_mv_refresh(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: the daily (type, day)
    aggregate is 'materialized' from the first 20 days, then the last
    10 days arrive as a DELTA and refresh it by partial-aggregate MERGE
    (sum the partials, never rescan the base) -- the maintenance loop
    behind every serving-layer rollup, and the lambda architecture's
    batch+speed merge expressed as one query. The oracle recomputes
    from scratch: the driver hash PROVES merge == full recompute, which
    is exactly the invariant an incremental pipeline must hold
    (count/sum are self-mergeable; avg would need sum+count carried --
    the classic MV-maintenance trap, documented by construction here).

    Scale shape: base and delta each fold map-side to the (type, day)
    grain before the union; the merge re-aggregates calendar-bounded
    partials -- refresh cost scales with the DELTA, not the history."""
    ev = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    # day projects as yyyy-MM-dd (the portable projection rule)
    day = F.date_format("ts", "yyyy-MM-dd")

    def rollup(df):
        return (df.groupBy("event_type", day.alias("day"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                     F.sum(cents).cast("bigint").alias("cents")))

    base = rollup(ev.where(day <= F.lit("2024-01-20")))
    delta = rollup(ev.where(day > F.lit("2024-01-20")))
    return (base.unionByName(delta)
            .groupBy("event_type", "day")
            .agg(F.sum("n_events").cast("bigint").alias("n_events"),
                 F.sum("cents").cast("bigint").alias("cents")))
