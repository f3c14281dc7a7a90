"""Scalar-function operators: string / date / math / array / map / JSON
(SURVEY.md §2.8).

All per-row, all JVM-side builtins inside the scan's codegen stage — zero
Python in the hot path. Dialect traps vs DuckDB handled per SURVEY §2.8:
dayofweek numbering (+1), date_diff argument order, libm 1-ulp drift
(rounded to 8 dp), array cells string-joined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import iround, round_cents
from lambdatotheslaughter_spark.functions.text import tokens
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table


@register("str_basic", oracle="""
SELECT c_custkey,
       lower(c_name) AS lower_name,
       upper(c_mktsegment) AS upper_seg,
       trim(concat('  ', c_name, ' ')) AS trimmed,
       substring(c_name, 1, 8) AS prefix8,
       concat_ws('|', c_name, c_mktsegment) AS joined,
       CAST(length(c_name) AS BIGINT) AS name_len
FROM customer
""")
def str_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lower/upper/trim/substring/concat_ws/length (ASCII-safe data)."""
    c = load_table(spark, "customer", sf_dir)
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("lower_name"),
        F.upper("c_mktsegment").alias("upper_seg"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
        F.substring("c_name", 1, 8).alias("prefix8"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
        F.length("c_name").cast("bigint").alias("name_len"),
    )


@register("str_split_regexp", oracle=r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       string_split(text, ' ')[1] AS first_token,
       regexp_extract(source, '(\d+)', 1) AS source_num,
       regexp_replace(lang, 'en', 'english') AS lang_replaced
FROM documents
""")
def str_split_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split / regexp_extract / regexp_replace. Patterns kept to the regex
    subset where Java and RE2-ish dialects agree (SURVEY §2.8 caveat)."""
    d = load_table(spark, "documents", sf_dir)
    toks = tokens()
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        toks.getItem(0).alias("first_token"),
        F.regexp_extract("source", r"(\d+)", 1).alias("source_num"),
        F.regexp_replace("lang", "en", "english").alias("lang_replaced"),
    )


@register("str_levenshtein", oracle="""
SELECT p_partkey, p_name,
       CAST(levenshtein(p_name, 'red widget') AS BIGINT) AS dist_to_ref
FROM part
WHERE p_brand = 'Brand#2'
""")
def str_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance to a reference name (string-similarity primitive,
    SURVEY §2.8 / PAPERS.md string-similarity-join)."""
    p = load_table(spark, "part", sf_dir).where(F.col("p_brand") == "Brand#2")
    return p.select(
        "p_partkey", "p_name",
        F.levenshtein(F.col("p_name"), F.lit("red widget")).cast("bigint").alias("dist_to_ref"),
    )


@register("date_extract_trunc", oracle="""
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_month,
       CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS o_day,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS o_dow,
       date_trunc('month', o_orderdate) AS month_start
FROM orders
""")
def date_extract_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/dayofweek + date_trunc. Spark dayofweek is 1=Sunday,
    DuckDB is 0=Sunday — oracle shifts by +1 (SURVEY §2.8 trap)."""
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("o_year"),
        F.month("o_orderdate").cast("bigint").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("o_day"),
        F.dayofweek("o_orderdate").cast("bigint").alias("o_dow"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
    )


@register("date_arith", oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS ship_delay_days,
       l_shipdate + INTERVAL 30 MINUTE AS ship_plus_30m,
       o_orderdate + INTERVAL 1 MONTH AS order_next_month
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_orderkey < 1000
""")
def date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """datediff / interval add / add_months. Spark datediff(end, start) ==
    DuckDB date_diff('day', start, end) — argument order flips (§2.8 trap);
    both clamp month-end on add_months."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey", "l_linenumber",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
             .cast("bigint").alias("ship_delay_days"),
            (F.col("l_shipdate") + F.expr("INTERVAL 30 MINUTE")).alias("ship_plus_30m"),
            F.add_months(F.col("o_orderdate"), 1).cast("timestamp").alias("order_next_month"),
        )
    )


@register("math_round_abs", oracle="""
SELECT p_partkey,
       round(p_retailprice / 7.0, 2) AS price_r2,
       floor(p_retailprice) AS price_floor,
       ceil(p_retailprice) AS price_ceil,
       abs(p_retailprice - 1000.0) AS dist_1000,
       round(ln(p_retailprice), 8) AS ln_price,
       round(pow(p_retailprice, 1.5), 4) AS price_pow,
       round(sqrt(p_retailprice), 8) AS price_sqrt
FROM part
""")
def math_round_abs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/floor/ceil/abs/ln/pow/sqrt. Transcendentals (ln/pow) round to
    fixed dp — JVM vs libm can differ by 1 ulp; /7.0 before round keeps
    values off engineered .5 ties (§2.8 trap)."""
    p = load_table(spark, "part", sf_dir)
    price = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.round(price / 7.0, 2).alias("price_r2"),
        F.floor(price).cast("double").alias("price_floor"),
        F.ceil(price).cast("double").alias("price_ceil"),
        F.abs(price - 1000.0).alias("dist_1000"),
        F.round(F.log(price), 8).alias("ln_price"),
        F.round(F.pow(price, 1.5), 4).alias("price_pow"),
        F.round(F.sqrt(price), 8).alias("price_sqrt"),
    )


@register("array_ops", oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
)
SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM toks
GROUP BY token
HAVING COUNT(*) > 200
""")
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split → explode → re-aggregate (token frequencies): the tokenization
    skeleton under every text-analysis operator in §2.10."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select("doc_id", F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"),
             F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_occurrences") > 200)
    )


@register("arr_higher_order", oracle="""
SELECT vec_id,
       sqrt(list_reduce(list_transform(embedding,
                                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (a, b) -> a + b)) AS l2_norm,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
       list_transform(embedding[1:3], x -> CAST(x AS DOUBLE) * 2)[1] AS d1,
       list_transform(embedding[1:3], x -> CAST(x AS DOUBLE) * 2)[2] AS d2,
       list_transform(embedding[1:3], x -> CAST(x AS DOUBLE) * 2)[3] AS d3
FROM embeddings
""")
def arr_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform / filter / aggregate lambdas over the embedding array.
    L2 norm via sequential fold — both engines fold left-to-right, so the
    double sum is bit-identical (no rounding needed). Transformed elements
    come back as numeric columns, never stringified doubles: Java renders
    small doubles as '-8.2E-4' where DuckDB prints '-0.00082'."""
    e = load_table(spark, "embeddings", sf_dir)
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    doubled = F.transform(F.slice("embedding", 1, 3), lambda x: x.cast("double") * 2)
    return e.select(
        "vec_id",
        F.sqrt(sq_sum).alias("l2_norm"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint").alias("n_positive"),
        F.element_at(doubled, 1).alias("d1"),
        F.element_at(doubled, 2).alias("d2"),
        F.element_at(doubled, 3).alias("d3"),
    )


@register("map_ops", oracle="""
SELECT r_regionkey,
       map(['name', 'zone'], [r_name, CAST(r_regionkey % 2 AS VARCHAR)])['name'][1] AS m_name,
       array_to_string(map_keys(map(['name', 'zone'],
                                    [r_name, CAST(r_regionkey % 2 AS VARCHAR)])), ',') AS key_list,
       array_to_string(map_values(map(['name', 'zone'],
                                      [r_name, CAST(r_regionkey % 2 AS VARCHAR)])), ',') AS val_list
FROM region
""")
def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a map, extract by key, enumerate keys/values (string-joined —
    map cells don't hash stably across engines, SURVEY §2.8)."""
    r = load_table(spark, "region", sf_dir)
    m = F.create_map(
        F.lit("name"), F.col("r_name"),
        F.lit("zone"), (F.col("r_regionkey") % 2).cast("string"),
    )
    return r.select(
        "r_regionkey",
        m.getItem("name").alias("m_name"),
        F.array_join(F.map_keys(m), ",").alias("key_list"),
        F.array_join(F.map_values(m), ",").alias("val_list"),
    )


@register("json_extract", oracle="""
SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY prop_k
""")
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object over the semi-structured props payload, then
    aggregate by the extracted key (schema-on-read on the speed layer)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select(F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
                  "value")
        .groupBy("prop_k")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"))
    )


@register("str_pad_translate", oracle="""
SELECT s_suppkey,
       lpad(s_name, 24, '*') AS padded_left,
       rpad(s_name, 24, '.') AS padded_right,
       translate(s_name, '#0', '-_') AS translated,
       repeat('-', 4) AS sep,
       reverse(s_name) AS reversed,
       left(s_name, 8) AS left8,
       right(s_name, 4) AS right4,
       CAST(strpos(s_name, '#') AS BIGINT) AS hash_pos,
       split_part(s_name, '#', 2) AS after_hash
FROM supplier
""")
def str_pad_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining portable string surface: lpad/rpad/translate/repeat/
    reverse/left/right/strpos(instr)/split_part(element_at∘split) — all
    1-based and semantics-identical across both dialects (probed)."""
    s = load_table(spark, "supplier", sf_dir)
    return s.select(
        "s_suppkey",
        F.lpad("s_name", 24, "*").alias("padded_left"),
        F.rpad("s_name", 24, ".").alias("padded_right"),
        F.translate("s_name", "#0", "-_").alias("translated"),
        F.repeat(F.lit("-"), 4).alias("sep"),
        F.reverse("s_name").alias("reversed"),
        F.substring("s_name", 1, 8).alias("left8"),
        F.substring(F.col("s_name"), -4, 4).alias("right4"),
        F.instr("s_name", "#").cast("bigint").alias("hash_pos"),
        F.element_at(F.split("s_name", "#"), 2).alias("after_hash"),
    )


@register("type_decimal_arith", oracle="""
SELECT l_returnflag,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(30,4)))
                 AS DECIMAL(38,4)) AS VARCHAR) AS sum_prod,
       CAST(MIN(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                     * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(30,4)))
            AS VARCHAR) AS min_prod,
       CAST(MAX(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                     * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(30,4)))
            AS VARCHAR) AS max_prod,
       CAST(CAST(SUM(round(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                                * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(30,4)),
                           1)) AS DECIMAL(38,4)) AS VARCHAR) AS sum_rounded,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""")
def type_decimal_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType arithmetic end-to-end (SURVEY §1.2): cast doubles into
    DECIMAL(12,2), multiply with explicit result scale, SUM/MIN/MAX in
    decimal space (exact, associative — the scale-out guarantee), and
    decimal-native HALF_UP rounding (round-to-1dp of the 4dp product; a
    double→decimal quantization column was tried and removed: Spark casts
    the SHORTEST decimal repr of a double while DuckDB casts its binary
    value, so long-tail division results disagree in the last decimal —
    decimal-in/decimal-out arithmetic is the portable surface). Outputs
    are decimal STRINGS — scale-faithful rendering ('5019.0000') is part
    of the type surface under test."""
    li = load_table(spark, "lineitem", sf_dir)
    ext = F.col("l_extendedprice").cast("decimal(12,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    prod = (ext * qty).cast("decimal(30,4)")
    return li.groupBy("l_returnflag").agg(
        F.sum(prod).cast("decimal(38,4)").cast("string").alias("sum_prod"),
        F.min(prod).cast("string").alias("min_prod"),
        F.max(prod).cast("string").alias("max_prod"),
        F.sum(F.round(prod, 1)).cast("decimal(38,4)").cast("string")
         .alias("sum_rounded"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register("type_map_aggregate", oracle="""
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(COUNT(*) AS INT) AS n_types,
       coalesce(string_agg(CASE WHEN n >= 3
                                THEN event_type || '=' || CAST(n * 10 AS VARCHAR)
                           END, ',' ORDER BY event_type), '') AS big_counts_x10,
       CAST(SUM(n) AS BIGINT) AS n_events
FROM c
GROUP BY user_id
""")
def type_map_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType as a computed value (SURVEY §1.2 — beyond map_ops's literal
    construction): per-user map event_type→count via
    map_from_entries∘collect_list, pruned with map_filter, rescaled with
    transform_values, flattened via map_entries for stable hashing. The
    oracle never builds a map — an independent relational formulation of
    the same answer. Scale shape: one groupBy cascade, map stays
    row-local (bounded by the event-type vocabulary)."""
    ev = load_table(spark, "events", sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = F.map_from_entries(
        F.array_sort(F.collect_list(F.struct("event_type", "n"))))
    per_user = counts.groupBy("user_id").agg(
        m.alias("m"), F.sum("n").cast("bigint").alias("n_events"))
    big = F.transform_values(
        F.map_filter(F.col("m"), lambda k, v: v >= 3), lambda k, v: v * 10)
    return per_user.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.array_join(
            F.transform(F.map_entries(big),
                        lambda e: F.concat(e.getField("key"), F.lit("="),
                                           e.getField("value").cast("string"))),
            ",").alias("big_counts_x10"),
        "n_events",
    )


@register("type_interval_arith", oracle="""
SELECT o_orderkey,
       strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m-%d %H:%M:%S') AS plus_month,
       strftime(o_orderdate + INTERVAL 1 MONTH + INTERVAL 15 DAY + INTERVAL 6 HOUR,
                '%Y-%m-%d %H:%M:%S') AS plus_mixed,
       strftime(o_orderdate - INTERVAL 45 DAY, '%Y-%m-%d %H:%M:%S') AS minus_days,
       strftime(last_day(o_orderdate) + INTERVAL 1 MONTH, '%Y-%m-%d') AS month_end_plus,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 YEAR, '%Y-%m-%d') AS plus_years
FROM orders
WHERE o_orderkey % 97 = 0
""")
def type_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalendarInterval arithmetic edge cases (SURVEY §1.2): year-month
    intervals clamp to month end (Jan 31 + 1 month = Feb 28/29 — both
    engines agree), mixed month+day+hour intervals apply months first,
    day-time subtraction, and last_day()+1 month (always another month
    end). Timestamps emitted as ISO strings (date/timestamp cells hash
    differently across engines — SURVEY §2 caveats)."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") % 97 == 0)
    ts = F.col("o_orderdate")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return o.select(
        "o_orderkey",
        F.date_format(ts + F.expr("INTERVAL 1 MONTH"), fmt).alias("plus_month"),
        F.date_format(
            ts + F.expr("INTERVAL 1 MONTH") + F.expr("INTERVAL 15 DAYS")
            + F.expr("INTERVAL 6 HOURS"), fmt).alias("plus_mixed"),
        F.date_format(ts - F.expr("INTERVAL 45 DAYS"), fmt).alias("minus_days"),
        F.date_format(F.last_day(ts) + F.expr("INTERVAL 1 MONTH"),
                      "yyyy-MM-dd").alias("month_end_plus"),
        F.date_format(ts.cast("date") + F.expr("INTERVAL 2 YEARS"),
                      "yyyy-MM-dd").alias("plus_years"),
    )


_VARIANT_ORACLE = """
SELECT CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS BIGINT)
         AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS k_sum,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS k_max
FROM events
GROUP BY CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS BIGINT)
"""


@register("type_variant_json", oracle=_VARIANT_ORACLE)
def type_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariantType (Spark 4's open semi-structured type): parse the props
    JSON once into a variant, then extract typed fields with variant_get —
    the shredded-JSON path that replaces per-access get_json_object
    re-parsing (one parse per row instead of one per extraction, and the
    binary variant encoding is columnar-friendly). Extractions are cast to
    plain types before output; the variant itself never crosses the
    oracle boundary."""
    ev = load_table(spark, "events", sf_dir)
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "bigint")
    return (
        ev.select((k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("k").cast("bigint").alias("k_sum"),
             F.max("k").cast("bigint").alias("k_max"))
    )


_STRUCT_ORACLE = """
WITH ranked AS (
  SELECT o_custkey,
         o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn_asc,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_desc
  FROM orders
)
SELECT o_custkey AS custkey,
       MAX(CASE WHEN rn_asc = 1 THEN o_orderkey END) AS first_orderkey,
       MAX(CASE WHEN rn_asc = 1 THEN cents END) AS first_cents,
       MAX(CASE WHEN rn_desc = 1 THEN o_orderkey END) AS last_orderkey,
       COUNT(*) AS n_orders
FROM ranked
GROUP BY o_custkey
"""


@register("type_struct_nested", oracle=_STRUCT_ORACLE)
def type_struct_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested StructType end-to-end (§2.8 type surface): pack each order
    into a struct, collect an array<struct> per customer, ``sort_array``
    it — struct ordering is LEXICOGRAPHIC BY FIELD POSITION, so putting
    (o_orderdate, o_orderkey, cents) in the struct makes the sort a
    composite (date, key) order with a deterministic tie-break — then
    extract fields from the first/last elements with dot paths. The
    oracle reformulates relationally (ROW_NUMBER both directions), so the
    struct build/sort/extract semantics are cross-checked against an
    engine with no struct involved at all. Scale shape: one groupBy on
    the customer key; per-group arrays are bounded by orders-per-customer
    (~10), so collect_list here is per-key state, not a corpus collect."""
    o = load_table(spark, "orders", sf_dir)
    cents = iround(F.col("o_totalprice") * 100)
    packed = o.select(
        "o_custkey",
        F.struct(F.col("o_orderdate"), F.col("o_orderkey"),
                 cents.alias("cents")).alias("rec"))
    arr = (packed.groupBy("o_custkey")
           .agg(F.sort_array(F.collect_list("rec")).alias("orders")))
    first = F.col("orders")[0]
    last = F.element_at("orders", -1)
    return arr.select(
        F.col("o_custkey").alias("custkey"),
        first["o_orderkey"].alias("first_orderkey"),
        first["cents"].alias("first_cents"),
        last["o_orderkey"].alias("last_orderkey"),
        F.size("orders").cast("bigint").alias("n_orders"),
    )


_COLLATION_ORACLE = """
WITH mixed AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
              ELSE lower(c_mktsegment) END AS seg_mixed
  FROM customer
)
SELECT CAST(COUNT(*) FILTER (WHERE lower(seg_mixed) = 'building')
            AS BIGINT) AS n_building_ci,
       CAST(COUNT(*) FILTER (WHERE seg_mixed = 'BUILDING')
            AS BIGINT) AS n_building_cs,
       CAST(COUNT(DISTINCT lower(seg_mixed)) AS BIGINT) AS n_segments_ci,
       CAST(COUNT(DISTINCT seg_mixed) AS BIGINT) AS n_segments_cs
FROM mixed
"""


@register("str_collation_lcase", oracle=_COLLATION_ORACLE)
def str_collation_lcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware comparison (Spark 4 collations): a mixed-case
    segment column (upper for even keys, lower for odd) is compared and
    distinct-counted under UTF8_LCASE — equality, and therefore grouping
    and DISTINCT, become case-insensitive WITHOUT materializing a
    lowercased copy of the column. The engine-level point: collation
    travels with the data type, so every comparison operator (=, GROUP
    BY, DISTINCT, joins) picks it up, and at scale the hash/shuffle keys
    hash the collation key directly rather than a derived lower() column
    doubling the string bytes. The oracle is the classic lower()-twin —
    proving the collated semantics equal the explicit normalization.
    Output is count-only: collated GROUP BY keys pick an arbitrary
    representative casing per group, which is exactly the
    nondeterminism this engine's determinism discipline avoids exposing."""
    c = load_table(spark, "customer", sf_dir)
    mixed = (F.when(F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment"))
             .otherwise(F.lower("c_mktsegment")))
    m = c.select("c_custkey", mixed.alias("seg_mixed"))
    ci = F.expr("collate(seg_mixed, 'UTF8_LCASE')")
    return m.agg(
        F.count(F.when(ci == F.lit("Building"), 1))
        .alias("n_building_ci"),
        F.count(F.when(F.col("seg_mixed") == "BUILDING", 1))
        .alias("n_building_cs"),
        F.countDistinct(ci).alias("n_segments_ci"),
        F.countDistinct("seg_mixed").alias("n_segments_cs"),
    )


_URL_ORACLE = """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/' || lang || '/doc/' ||
         CAST(doc_id AS VARCHAR) || '?ref=' || lang AS url
  FROM documents
)
SELECT doc_id,
       regexp_extract(url, '^https://([^/]+)', 1) AS host,
       regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query,
       regexp_extract(url, '[?&]ref=([^&]*)', 1) AS ref_param
FROM u
"""


@register("str_url_parse", oracle=_URL_ORACLE)
def str_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with the engine's native `parse_url` (HOST /
    PATH / QUERY / named query param) — the crawl-pipeline primitive
    behind domain mixing, per-site dedup, and robots filtering. URLs are
    synthesized deterministically from document columns (the corpus has
    no URL field); the oracle decomposes the SAME urls with regexes,
    proving the dedicated parser agrees with first-principles parsing.
    Pure per-row JVM string work — map-side, zero shuffles, no UDF."""
    d = load_table(spark, "documents", sf_dir)
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/"), F.col("lang"), F.lit("/doc/"),
                   F.col("doc_id").cast("string"),
                   F.lit("?ref="), F.col("lang"))
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    )


_TRY_ORACLE = """
SELECT o_orderkey,
       round(o_totalprice / nullif(o_custkey % 5, 0), 6) AS safe_div,
       CASE WHEN o_orderkey % 2 = 1 THEN NULL
            ELSE 9223372036854775807 END AS safe_add,
       TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN '12x'
                     ELSE CAST(o_orderkey AS VARCHAR) END AS INTEGER)
         AS safe_cast
FROM orders WHERE o_orderkey <= 400
"""


@register("math_try_arith", oracle=_TRY_ORACLE)
def math_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic under ANSI mode: `try_divide` / `try_add` /
    `try_cast` return NULL where strict evaluation would kill the job
    (divide-by-zero, bigint overflow, malformed cast) — the per-cell
    quarantine that keeps a 100 TB batch from dying on row
    3,141,592,653. The oracle builds the same NULLs from first
    principles (nullif divisor, overflow predicate, TRY_CAST), proving
    the try_* family equals explicit guards. Pure map-side row
    arithmetic, fully codegen'd."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") <= 400)
    max_long = F.lit(9223372036854775807)
    return o.select(
        "o_orderkey",
        F.round(F.try_divide("o_totalprice", F.col("o_custkey") % 5), 6)
        .alias("safe_div"),
        F.try_add(max_long, F.col("o_orderkey") % 2).alias("safe_add"),
        F.expr("try_cast(CASE WHEN o_orderkey % 3 = 0 THEN '12x' "
               "ELSE CAST(o_orderkey AS STRING) END AS INT)")
        .alias("safe_cast"),
    )


# ---------------------------------------------------------------------------
# cryptographic hash / base64 function surface
# ---------------------------------------------------------------------------

_HASH_FN_ORACLE = """
SELECT o_orderkey,
       md5(o_orderpriority || ':' || CAST(o_orderkey AS VARCHAR)) AS h_md5,
       sha256(o_orderpriority || ':' || CAST(o_orderkey AS VARCHAR))
         AS h_sha256,
       to_base64(encode(o_orderpriority)) AS b64,
       decode(from_base64(to_base64(encode(o_orderpriority))))
         = o_orderpriority AS roundtrip_ok
FROM orders WHERE o_orderkey < 2000
"""


@register("str_hash_functions", oracle=_HASH_FN_ORACLE)
def str_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digest + base64 surface: md5 / sha2-256 hex digests
    (the portable content-address primitives every fingerprint/dedup
    key in this engine builds on) and a base64 encode→decode round
    trip — the wire-safe envelope encoding for binary payloads in JSON
    /Kafka feeds. Hex casing and base64 alphabet are pinned by both
    engines' standards-compliance, so the digests hash-match exactly."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 2000)
    payload = F.concat(F.col("o_orderpriority"), F.lit(":"),
                       F.col("o_orderkey").cast("string"))
    b64 = F.base64(F.col("o_orderpriority").cast("binary"))
    return o.select(
        "o_orderkey",
        F.md5(payload).alias("h_md5"),
        F.sha2(payload, 256).alias("h_sha256"),
        b64.alias("b64"),
        (F.unbase64(b64).cast("string") == F.col("o_orderpriority"))
        .alias("roundtrip_ok"))


# ---------------------------------------------------------------------------
# business-day calendar arithmetic
# ---------------------------------------------------------------------------

_BIZDAYS_ORACLE = """
SELECT o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS start_day,
       CAST(CAST(o_orderdate AS DATE) + CAST(o_orderkey % 40 + 5 AS INT)
            AS VARCHAR) AS due_day,
       CAST(len(list_filter(
              generate_series(CAST(o_orderdate AS DATE),
                              CAST(o_orderdate AS DATE)
                                + CAST(o_orderkey % 40 + 5 AS INT),
                              INTERVAL 1 DAY),
              d -> dayofweek(d) NOT IN (0, 6))) AS BIGINT) AS biz_days
FROM orders WHERE o_orderkey < 8000
"""


@register("date_business_days", oracle=_BIZDAYS_ORACLE)
def date_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day (Mon–Fri) count between each order date and its due
    date (a key-derived 5–44 day horizon) — the SLA/settlement-date
    arithmetic every ops report needs. The Spark side is CLOSED-FORM
    O(1) integer arithmetic per row: for each target weekday t, the
    count of its occurrences in n+1 consecutive days starting on
    weekday w is 1 + floor((n - (t-w) mod 7) / 7) when (t-w) mod 7 <= n;
    summing t over Mon..Fri needs five codegen'd expressions and NO
    per-day expansion. The oracle brute-forces the same answer by
    materializing the day list and filtering weekends — two genuinely
    different algorithms hash-matching.

    Scale shape: pure map-side projection, zero shuffle, zero explode —
    the closed form is what survives a 100 TB fact table where a
    sequence()-per-row would allocate 45 elements/row."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 8000)
    start = F.col("o_orderdate").cast("date")
    n = (F.col("o_orderkey") % 40 + 5).cast("int")          # horizon days
    # dayofweek(): 1=Sun..7=Sat -> w: 0=Mon..6=Sun
    w = F.pmod(F.dayofweek(start) + 5, F.lit(7))
    cnt = F.lit(0)
    for t in range(5):                                      # Mon..Fri
        delta = F.pmod(F.lit(t) - w, F.lit(7))
        cnt = cnt + F.when(delta <= n,
                           F.lit(1) + F.floor((n - delta) / 7)) \
                     .otherwise(F.lit(0))
    return o.select(
        "o_orderkey",
        start.cast("string").alias("start_day"),
        F.date_add(start, n).cast("string").alias("due_day"),
        cnt.cast("bigint").alias("biz_days"))


# ---------------------------------------------------------------------------
# ISO-8601 calendar semantics
# ---------------------------------------------------------------------------

_ISO_CAL_ORACLE = """
SELECT o_orderkey,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
       CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year
FROM orders WHERE o_orderkey < 3000
"""


@register("date_iso_week_quarter", oracle=_ISO_CAL_ORACLE)
def date_iso_week_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 calendar fields — the cross-engine portability trap in
    every weekly report: engines disagree on week numbering (ISO vs
    US), day-of-week origin (Spark's dayofweek is 1=Sunday, DuckDB's
    isodow is 1=Monday), and which YEAR an edge week belongs to (the
    Dec-29..Jan-3 window can land in week 1 of NEXT iso-year or week
    52/53 of the PREVIOUS). Spark's weekofyear is already ISO; the
    iso_dow and iso_year columns are derived with explicit edge
    arithmetic (December dates in ISO week 1 → year+1, January dates in
    ISO week >= 52 → year−1) and verified value-exact against DuckDB's
    native isodow()/isoyear() over every date in the key range — the
    oracle engine implements the spec natively, so parity proves the
    derivation, not just self-consistency.

    Scale shape: pure map-side projection after a pushed key predicate;
    calendar math never shuffles."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 3000)
    week = F.weekofyear("o_orderdate")
    return o.select(
        "o_orderkey",
        week.cast("bigint").alias("iso_week"),
        F.quarter("o_orderdate").cast("bigint").alias("qtr"),
        F.when(F.dayofweek("o_orderdate") == 1, 7)
        .otherwise(F.dayofweek("o_orderdate") - 1)
        .cast("bigint").alias("iso_dow"),
        (F.year("o_orderdate")
         + F.when((F.month("o_orderdate") == 12) & (week == 1), 1)
         .when((F.month("o_orderdate") == 1) & (week >= 52), -1)
         .otherwise(0)).cast("bigint").alias("iso_year"))


# ---------------------------------------------------------------------------
# banker's rounding on exact ties
# ---------------------------------------------------------------------------

_BROUND_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderkey AS DOUBLE) + 0.5 AS half_val,
       round_even(CAST(o_orderkey AS DOUBLE) + 0.5, 0) AS bround_half,
       CAST(o_orderkey AS DOUBLE) / 4.0 AS quarter_val,
       round_even(CAST(o_orderkey AS DOUBLE) / 4.0, 1) AS bround_quarter,
       round_even(CAST(o_orderkey AS DOUBLE) + 0.5, 0)
         - round(CAST(o_orderkey AS DOUBLE) + 0.5, 0) AS vs_half_up
FROM orders WHERE o_orderkey < 600
"""


@register("math_bround_even", oracle=_BROUND_ORACLE)
def math_bround_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banker's rounding (`bround`, HALF_EVEN) on EXACT ties — the
    rounding mode financial aggregation standards require precisely
    because HALF_UP biases sums upward on .5 ties. The inputs are
    deliberately dyadic (k + 0.5, k/4): exactly representable doubles,
    so the tie is REAL in both engines and the even/odd split is the
    observable. (Arbitrary decimals like 2.675 are NOT used: they sit
    off-tie in binary, and Spark's shortest-decimal BigDecimal view
    and DuckDB's numeric view would legitimately disagree — the op
    demonstrates the rounding mode, not that representational trap.)
    vs_half_up shows the mode difference directly: −1 on odd-rounded-
    down ties, 0 elsewhere.

    Scale shape: pure map-side scalar math."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 600)
    half = F.col("o_orderkey").cast("double") + F.lit(0.5)
    quarter = F.col("o_orderkey").cast("double") / F.lit(4.0)
    return o.select(
        "o_orderkey",
        half.alias("half_val"),
        F.bround(half, 0).alias("bround_half"),
        quarter.alias("quarter_val"),
        F.bround(quarter, 1).alias("bround_quarter"),
        (F.bround(half, 0) - F.round(half, 0)).alias("vs_half_up"))


# ---------------------------------------------------------------------------
# map construction / combination surface
# ---------------------------------------------------------------------------

_MAP_PACK_ORACLE = """
WITH counts AS (
  SELECT CAST(user_id % 4 AS BIGINT) AS cohort, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY CAST(user_id % 4 AS BIGINT), event_type
)
SELECT cohort,
       array_to_string(list_sort(
         list(event_type || '=' || CAST(n AS VARCHAR))), ',') AS packed,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM counts GROUP BY cohort
"""


@register("type_map_pack", oracle=_MAP_PACK_ORACLE)
def type_map_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType construction surface: per-cohort event_type→count maps
    built with `map_from_entries(collect_list(struct(...)))`, then read
    back out through `map_entries` + HOF transform into a SORTED packed
    string — maps have no defined entry order in either engine, so the
    portable projection is the sorted k=v join (the README
    determinism-discipline rule on container cells, applied to maps).
    Exercises map_from_entries / map_entries / transform / sort_array
    end to end; DuckDB recomputes the string from plain lists.

    Scale shape: one combinable (cohort, type) count, then a cohort-
    sized collect_list — bounded by the type alphabet per cohort, never
    by events."""
    ev = load_table(spark, "events", sf_dir)
    counts = (ev.groupBy((F.col("user_id") % 4).cast("bigint").alias("cohort"),
                         "event_type")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    m = F.map_from_entries(F.sort_array(F.collect_list(
        F.struct("event_type", "n"))))
    return (counts.groupBy("cohort")
            .agg(m.alias("m"),
                 F.count(F.lit(1)).cast("bigint").alias("n_keys"))
            .select("cohort",
                    F.array_join(F.sort_array(F.transform(
                        F.map_entries("m"),
                        lambda e: F.concat_ws("=", e["key"],
                                              e["value"].cast("string")))),
                        ",").alias("packed"),
                    "n_keys"))


# ---------------------------------------------------------------------------
# timezone conversion
# ---------------------------------------------------------------------------

_TZ_ORACLE = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS utc_ts,
       strftime(CAST(timezone('America/New_York',
                              CAST(ts AS TIMESTAMPTZ)) AS TIMESTAMP),
                '%Y-%m-%d %H:%M:%S') AS ny_local,
       strftime(CAST(timezone('Asia/Tokyo',
                              CAST(ts AS TIMESTAMPTZ)) AS TIMESTAMP),
                '%Y-%m-%d %H:%M:%S') AS tokyo_local
FROM events WHERE event_id < 2000
"""


@register("date_tz_convert", oracle=_TZ_ORACLE)
def date_tz_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-zone timestamp conversion (`from_utc_timestamp`) — every
    user-facing report layer needs wall-clock times, and zone rules
    (DST!) are exactly what hand-rolled offset arithmetic gets wrong.
    Storage stays UTC (the lake contract); conversion is a projection
    at the edge. Output as formatted STRINGS on both sides: the
    portable projection for zone-shifted timestamps (a naive-vs-aware
    repr mismatch is the alternative). Both engines resolve the IANA
    zone database, so a DST-boundary event converts identically.

    Scale shape: pure map-side scalar conversion."""
    ev = load_table(spark, "events", sf_dir).where(F.col("event_id") < 2000)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return ev.select(
        "event_id",
        F.date_format("ts", fmt).alias("utc_ts"),
        F.date_format(F.from_utc_timestamp("ts", "America/New_York"), fmt)
        .alias("ny_local"),
        F.date_format(F.from_utc_timestamp("ts", "Asia/Tokyo"), fmt)
        .alias("tokyo_local"))


# ---------------------------------------------------------------------------
# TRY_CAST error-tolerant conversion surface
# ---------------------------------------------------------------------------

_TRY_CAST_ORACLE = """
WITH raw AS (
  SELECT event_id, user_id, event_type, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
), shaped AS (
  SELECT event_id,
         CASE CAST(user_id % 4 AS BIGINT)
           WHEN 0 THEN CAST(cents AS VARCHAR)
           WHEN 1 THEN event_type
           WHEN 2 THEN CAST(cents AS VARCHAR) || 'x'
           ELSE NULL END AS num_str,
         CASE WHEN user_id % 2 = 0 THEN strftime(ts, '%Y-%m-%d')
              ELSE 'not-a-date' END AS date_str,
         cents, CAST(user_id % 5 AS BIGINT) AS denom
  FROM raw
)
SELECT event_id, num_str,
       TRY_CAST(num_str AS BIGINT) AS as_bigint,
       CAST(TRY_CAST(date_str AS DATE) AS VARCHAR) AS as_date_str,
       CAST(cents AS DOUBLE) / CAST(nullif(denom, 0) AS DOUBLE) AS safe_ratio
FROM shaped
"""


@register("type_try_cast_surface", oracle=_TRY_CAST_ORACLE)
def type_try_cast_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The error-tolerant conversion surface — try_cast to BIGINT and
    DATE plus try_divide — over a deliberately dirty column mix (clean
    numeric strings, category words, malformed '123x' suffixes, NULLs,
    zero denominators). This is the ANSI-mode ingestion contract: a
    100 TB load with ansi=true and plain CAST dies on the first bad
    record of the feed; the try_* family converts per-row failure into
    NULL so the bad rows route to quarantine instead of killing the
    job (completing math_try_arith's overflow story on the CONVERSION
    side). Dirty values are SYNTHESIZED deterministically from user_id
    residues, so both engines see the identical dirty feed; date
    strings parse as ISO yyyy-MM-dd in both; the safe ratio divides
    exact cents by a NULLIF'd denominator — one IEEE op.

    Scale shape: pure map-side projection, zero shuffles."""
    ev = load_table(spark, "events", sf_dir)
    cents = round_cents("value")
    m4 = (F.col("user_id") % 4).cast("bigint")
    num_str = (F.when(m4 == 0, cents.cast("string"))
               .when(m4 == 1, F.col("event_type"))
               .when(m4 == 2, F.concat(cents.cast("string"), F.lit("x"))))
    date_str = (F.when(F.col("user_id") % 2 == 0,
                       F.date_format("ts", "yyyy-MM-dd"))
                .otherwise(F.lit("not-a-date")))
    return ev.select(
        "event_id",
        num_str.alias("num_str"),
        num_str.try_cast("bigint").alias("as_bigint"),
        # DATE projects back through VARCHAR: pandas renders Spark DATE as
        # python date objects but DuckDB DATE as datetime64 — the ISO string
        # is the portable projection (the date_tz_convert rule), and NULL
        # passes through the cast untouched so the try semantics stay visible
        date_str.try_cast("date").cast("string").alias("as_date_str"),
        F.try_divide(cents.cast("double"),
                     F.nullif((F.col("user_id") % 5).cast("bigint"),
                              F.lit(0)).cast("double")).alias("safe_ratio"))


# ---------------------------------------------------------------------------
# fiscal-calendar rollup
# ---------------------------------------------------------------------------

_FISCAL_ORACLE = """
WITH f AS (
  -- fiscal year starts in FEBRUARY: shift the month back one before
  -- the quarter/year split (the retail 4-5-4-adjacent pattern in its
  -- simplest month-shifted form)
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         (month(o_orderdate) + 10) % 12 AS fm,
         year(o_orderdate) + CASE WHEN month(o_orderdate) >= 2
                                  THEN 0 ELSE -1 END AS fy
  FROM orders
)
SELECT CAST(fy AS BIGINT) AS fiscal_year,
       CAST(fm // 3 + 1 AS BIGINT) AS fiscal_quarter,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM f GROUP BY fy, fm // 3 + 1
"""


@register("date_fiscal_quarter", oracle=_FISCAL_ORACLE)
def date_fiscal_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fiscal-calendar revenue rollup with a FEBRUARY year start -- the
    enterprise-reporting quirk every warehouse eventually grows a
    helper for (finance closes on a shifted year; the civil-calendar
    quarter() builtin is simply wrong for them). Fiscal month/quarter/
    year derive from pure month arithmetic ((m+10) %% 12 shift, year-1
    before February), spelled identically in both engines; revenue is
    exact cents.

    Scale shape: map-side date arithmetic + one combinable groupBy to
    at most 4*years rows."""
    o = load_table(spark, "orders", sf_dir)
    cents = round_cents("o_totalprice")
    fm = (F.month("o_orderdate") + 10) % 12
    fy = (F.year("o_orderdate")
          + F.when(F.month("o_orderdate") >= 2, F.lit(0))
          .otherwise(F.lit(-1)))
    return (o.select(cents.alias("cents"), fm.alias("fm"),
                     fy.cast("bigint").alias("fy"))
            .groupBy(F.col("fy").alias("fiscal_year"),
                     (F.floor(F.col("fm") / 3) + 1).cast("bigint")
                     .alias("fiscal_quarter"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.sum("cents").cast("bigint").alias("revenue_cents")))


# ---------------------------------------------------------------------------
# retail 4-4-5 calendar rollup
# ---------------------------------------------------------------------------

_R445_ORACLE = """
WITH f AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         year(o_orderdate) + CASE WHEN month(o_orderdate) >= 2
                                  THEN 0 ELSE -1 END AS fy,
         o_orderdate
  FROM orders
), wk AS (
  -- fiscal week = whole weeks since Feb 1 of the fiscal year; weeks
  -- beyond 52 (the 4-day tail, or 5 in leap years) fold into week 51
  -- so every year has exactly 4 quarters of 13 weeks (the 4-4-5 rule's
  -- 53rd-week convention in its simplest form)
  SELECT cents, fy,
         LEAST(51, CAST(date_diff('day',
                                  make_date(CAST(fy AS INT), 2, 1),
                                  CAST(o_orderdate AS DATE)) // 7
                        AS BIGINT)) AS fweek
  FROM f
), m AS (
  SELECT cents, fy,
         fweek // 13 AS fq, fweek % 13 AS wq
  FROM wk
)
SELECT CAST(fy AS BIGINT) AS fiscal_year,
       CAST(fq * 3 + CASE WHEN wq < 4 THEN 1
                          WHEN wq < 8 THEN 2 ELSE 3 END AS BIGINT)
         AS fiscal_month_445,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM m GROUP BY fy, fq * 3 + CASE WHEN wq < 4 THEN 1
                                  WHEN wq < 8 THEN 2 ELSE 3 END
"""


@register("date_retail_445_calendar", oracle=_R445_ORACLE)
def date_retail_445_calendar(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Retail 4-4-5 calendar rollup: revenue per fiscal month where each
    quarter is a 4-week, 4-week, 5-week triplet counted from the
    February fiscal-year start (date_fiscal_quarter's civil-month shift
    is the simple form; 4-4-5 is what retail comparability actually
    uses -- every month contains the same number of each weekday, so
    month-over-month is weekday-mix-free). Fiscal week is pure integer
    day arithmetic (days since Feb 1 // 7, tail days folding into week
    51 so every year closes 4x13 weeks); the 4/4/5 split is an integer
    CASE ladder, spelled identically in both engines.

    Scale shape: map-side date arithmetic + one combinable groupBy to
    12 x years rows."""
    o = load_table(spark, "orders", sf_dir)
    cents = round_cents("o_totalprice")
    fy = (F.year("o_orderdate")
          + F.when(F.month("o_orderdate") >= 2, F.lit(0))
          .otherwise(F.lit(-1)))
    fy_start = F.make_date(fy, F.lit(2), F.lit(1))
    fweek = F.least(
        F.lit(51),
        F.floor(F.datediff(F.col("o_orderdate").cast("date"), fy_start)
                / 7)).cast("bigint")
    fq = F.floor(fweek / 13).cast("bigint")
    wq = fweek % 13
    fmonth = (fq * 3
              + F.when(wq < 4, F.lit(1)).when(wq < 8, F.lit(2))
              .otherwise(F.lit(3))).cast("bigint")
    return (o.select(cents.alias("cents"),
                     fy.cast("bigint").alias("fiscal_year"),
                     fmonth.alias("fiscal_month_445"))
            .groupBy("fiscal_year", "fiscal_month_445")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.sum("cents").cast("bigint").alias("revenue_cents")))


_POSEXPLODE_ORACLE = """
SELECT * FROM (
  SELECT doc_id,
         CAST(unnest(range(len(string_split(text, ' ')))) AS BIGINT) AS pos,
         unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id < 40
) WHERE pos < 8
"""


@register("explode_posexplode", oracle=_POSEXPLODE_ORACLE)
def explode_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (explode WITH ORDINALITY): tokenize and keep each token's
    position — the order-preserving flatten that plain explode loses.
    DuckDB's zipped-unnest idiom is the oracle twin. Generators run inside
    whole-stage codegen (no UDF); the doc_id/pos filters land before/after
    the generate respectively, and column pruning drops `text` right after
    the split."""
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 40)
    return (
        d.select("doc_id", F.posexplode(tokens())
                 .alias("pos", "token"))
        .where(F.col("pos") < 8)
        .withColumn("pos", F.col("pos").cast("bigint"))
    )


_REGEXP_ALL_ORACLE = """
SELECT doc_id,
       COALESCE(array_to_string(regexp_extract_all(text, 's\\w+'), ' '), '')
         AS s_words,
       CAST(len(regexp_extract_all(text, 's\\w+')) AS INTEGER) AS n_s_words
FROM documents
"""


@register("str_regexp_extract_all", oracle=_REGEXP_ALL_ORACLE)
def str_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all: every s-prefixed token per document, flattened to
    a joined string (arrays stringified for repr-stable hashing, the house
    convention). Both regex engines agree on this portable \\w+ subset.
    JVM-side codegen — the regex never leaves the executor row loop."""
    d = load_table(spark, "documents", sf_dir)
    arr = F.regexp_extract_all("text", F.lit(r"s\w+"), 0)
    return d.select(
        "doc_id",
        F.array_join(arr, " ").alias("s_words"),
        F.size(arr).alias("n_s_words"),
    )


# ---------------------------------------------------------------------------
# outer generators: empty arrays must keep their row
# ---------------------------------------------------------------------------

_EXPLODE_OUTER_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, 'q\w+') AS arr FROM documents
)
SELECT doc_id,
       CAST(i - 1 AS BIGINT) AS pos,
       arr[i] AS qword
FROM t LEFT JOIN LATERAL (
  SELECT unnest(generate_series(1, len(arr))) AS i) u ON TRUE
"""


@register("explode_outer_nulls", oracle=_EXPLODE_OUTER_ORACLE)
def explode_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`posexplode_outer`: flattening that PRESERVES rows whose array is
    empty (NULL pos/element) — the anti-join-free way to keep "documents
    with no matches" visible in the flattened view. Plain explode drops
    them, and the classic workaround (flatten + left anti + union) is two
    extra shuffles; the outer generator is zero extra shuffles (generate
    is map-side). The q-word extraction leaves most docs with an empty
    array, so the outer semantics carry real weight here. Oracle: DuckDB
    LEFT JOIN LATERAL over generate_series(1, len(arr)) — its unnest
    drops empty rows exactly like plain explode, so the lateral left join
    is the porting idiom."""
    d = load_table(spark, "documents", sf_dir)
    return (d.select(
        "doc_id",
        F.posexplode_outer(F.expr(r"regexp_extract_all(text, 'q\\w+', 0)"))
        .alias("pos", "qword"))
        .withColumn("pos", F.col("pos").cast("bigint")))
