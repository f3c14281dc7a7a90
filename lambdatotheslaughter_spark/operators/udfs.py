"""UDF / UDAF / UDTF surface (SURVEY.md §2.11).

These exist to prove the extension points, not for the hot path — every one
of them is the slow path relative to built-in expressions (§2.8). Ordering
of preference at scale: built-ins ≫ pandas_udf (Arrow-batched) ≫ Python UDF
(row-at-a-time pickling). The oracle re-expresses each body in SQL.
"""

from __future__ import annotations

import math
from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import iround, round_cents
from lambdatotheslaughter_spark.functions.text import tokens
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.streaming.harness import checkpoint_dir, drain
from lambdatotheslaughter_spark.tables import load_table


@register("udf_python_scalar", oracle="""
SELECT l_orderkey, l_linenumber, l_discount,
       CASE WHEN l_discount < 0.02 THEN 'low'
            WHEN l_discount < 0.06 THEN 'mid'
            ELSE 'high' END AS disc_band
FROM lineitem
WHERE l_orderkey < 2000
""")
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (discount banding). Deliberately simple —
    the point is the serde boundary, and that the same logic is pure SQL
    in the oracle."""
    @F.udf("string")
    def band(d: float) -> str:
        if d < 0.02:
            return "low"
        if d < 0.06:
            return "mid"
        return "high"

    li = load_table(spark, "lineitem", sf_dir).where(F.col("l_orderkey") < 2000)
    return li.select("l_orderkey", "l_linenumber", "l_discount",
                     band("l_discount").alias("disc_band"))


@register("udf_pandas_vectorized", oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
FROM lineitem
WHERE l_orderkey < 2000
""")
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF. numpy evaluates the same IEEE ops the
    JVM/DuckDB would, so the result hash-matches without tolerance."""
    @F.pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = load_table(spark, "lineitem", sf_dir).where(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey", "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"))


@register("udaf_pandas_grouped", oracle="""
SELECT user_id,
       round(quantile_cont(value, 0.5), 6) AS median_value,
       COUNT(*) AS n_events
FROM events
WHERE user_id % 20 = 0
GROUP BY user_id
""")
def udaf_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregation via applyInPandas (per-user median).
    Rounded to 6 dp: numpy's (a+b)/2 midpoint vs DuckDB's a+(b-a)*0.5
    interpolation can differ by 1 ulp. Users are sampled (user_id % 20 —
    the udf_cogrouped_map bound; the all-users demo paid ~10k Python
    group dispatches, 2.6 s at sf0.1): per-group pandas overhead is the
    API's real cost, and a full-corpus median belongs on the JVM
    percentile_approx/exact-sort path."""
    ev = (load_table(spark, "events", sf_dir)
          .where(F.col("user_id") % 20 == 0)
          .select("user_id", "value"))

    def median_agg(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "user_id": [pdf["user_id"].iloc[0]],
            "median_value": [round(float(pdf["value"].median()), 6)],
            "n_events": [len(pdf)],
        })

    return ev.groupBy("user_id").applyInPandas(
        median_agg, schema="user_id bigint, median_value double, n_events bigint")


@register("udtf_explode_sessions", oracle="""
SELECT r_regionkey, r_name,
       unnest(generate_series(0, CAST(r_regionkey AS BIGINT))) AS seq
FROM region
""")
def udtf_explode_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark ≥3.5): table function emitting N+1 rows per input
    row via a LATERAL join — the session-expansion shape (SURVEY §2.11)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="seq bigint")
    class ExpandSeq:
        def eval(self, n: int):
            for i in range(n + 1):
                yield (i,)

    spark.udtf.register("lts_expand_seq", ExpandSeq)
    return spark.sql("""
        SELECT r.r_regionkey, r.r_name, t.seq
        FROM {region} r, LATERAL lts_expand_seq(r.r_regionkey) t
    """, region=load_table(spark, "region", sf_dir))


@register("udf_arrow_optimized", oracle="""
SELECT o_orderkey,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) % 97 AS price_mod97
FROM orders WHERE o_orderkey < 3000
""")
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (``useArrow=True``): same per-row Python
    signature as the classic UDF, but arguments travel as Arrow batches
    instead of pickled rows — the drop-in migration path for UDFs not yet
    rewritten as pandas UDFs (measured 2-10x serde savings upstream; the
    compute stays per-row Python, which is why the vectorized pandas form
    remains the real target). Capped input, SQL oracle."""
    @F.udf("bigint", useArrow=True)
    def price_mod(p: float) -> int:
        # floor(x+0.5): tie-safe for non-negative money (Python round()
        # is half-to-even; the oracle's round() is half-away-from-zero)
        return int(math.floor(p * 100 + 0.5)) % 97

    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 3000)
    return o.select("o_orderkey", price_mod("o_totalprice").alias("price_mod97"))


_TICKS_ORACLE = """
WITH src AS (
  SELECT CAST(p AS INTEGER) AS part_id, CAST(i AS INTEGER) AS seq,
         CAST((p * 31 + i * 7) % 1000 AS INTEGER) AS value
  FROM (SELECT unnest(range(0, 8)) AS p),
       (SELECT unnest(range(0, 1000)) AS i)
)
SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(value) AS BIGINT) AS value_sum,
       CAST(SUM(seq * value) AS BIGINT) AS weighted_sum
FROM src GROUP BY part_id
"""


@register("source_python_datasource", oracle=_TICKS_ORACLE)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via Spark 4's Python DataSource API — the
    extension point for systems with no built-in source (REST feeds,
    proprietary stores): a registered `DataSource` class whose
    `partitions()` list drives genuinely parallel reads (one Spark task
    per InputPartition calling `read()` independently — the
    Kafka-partition / shard-parallel distribution shape). The source
    generates deterministic ticks as a pure function of (partition, seq),
    so the DuckDB oracle regenerates the identical table from range
    arithmetic and the whole connector round trip is value-exact.
    Registration is idempotent per session; at 100 TB the per-partition
    iterator is the backpressure boundary — Spark pulls batches, the
    connector never materializes its feed."""
    from lambdatotheslaughter_spark.sources.python_ds import TicksDataSource

    try:
        spark.dataSource.register(TicksDataSource)
    except Exception:
        pass  # already registered in this session
    ticks = (spark.read.format("lts_ticks")
             .option("parts", 8).option("rows", 1000).load())
    return (ticks.groupBy("part_id")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("value").cast("bigint").alias("value_sum"),
                 F.sum(F.col("seq") * F.col("value")).cast("bigint")
                 .alias("weighted_sum")))


_ARROW_MAP_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
FROM lineitem WHERE l_orderkey < 1000
"""


@register("udf_map_in_arrow", oracle=_ARROW_MAP_ORACLE)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` — the lowest-overhead Python boundary: the UDF sees
    raw Arrow RecordBatches and computes with `pyarrow.compute` kernels
    (C++ vectorized, zero pandas materialization — no index, no object
    boxing; the right tier when the logic is columnar arithmetic but must
    live in Python, e.g. calling a C library with an Arrow interface).
    The charge expression evaluates in float64 with a fixed op order, so
    it is bit-identical to the SQL oracle's and ships UNROUNDED (pyarrow's
    round scales differently from DuckDB's and lands 1 ulp off). Capped
    input like the other §2.11 surface demos."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def charge_batches(it):
        for batch in it:
            p = batch.column("l_extendedprice")
            d = batch.column("l_discount")
            t = batch.column("l_tax")
            # UNROUNDED by design: the product evaluates in float64 with
            # a fixed op order, bit-identical to the SQL oracle's — while
            # pc.round's scaling algorithm lands 1 ulp off DuckDB's round
            # on some values (caught by the bit-strict parity replica)
            charge = pc.multiply(pc.multiply(p, pc.subtract(pa.scalar(1.0), d)),
                                 pc.add(pa.scalar(1.0), t))
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), batch.column("l_linenumber"),
                 charge],
                names=["l_orderkey", "l_linenumber", "charge"])

    li = (load_table(spark, "lineitem", sf_dir)
          .where(F.col("l_orderkey") < 1000)
          .select("l_orderkey", "l_linenumber", "l_extendedprice",
                  "l_discount", "l_tax"))
    return li.mapInArrow(
        charge_batches,
        "l_orderkey bigint, l_linenumber int, charge double")


_UDTF_DYN_ORACLE = """
SELECT doc_id,
       string_split(text, ' ')[1] AS tok0,
       string_split(text, ' ')[2] AS tok1,
       string_split(text, ' ')[3] AS tok2
FROM documents
"""


@register("udtf_dynamic_schema", oracle=_UDTF_DYN_ORACLE)
def udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 `analyze()` static method): the
    OUTPUT SCHEMA is computed at plan time from the constant `k` argument
    — `prefix_tokens(text, 3)` emits columns tok0..tok2, a different call
    site with k=5 would emit five. This is the table-function
    counterpart of schema-on-read: the planner asks Python for the shape
    before any data moves (one analyze round trip, then ordinary
    distributed eval). Applied per-row via LATERAL correlated invocation;
    the oracle is the equivalent static projection."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeResult

    @udtf
    class PrefixTokens:
        @staticmethod
        def analyze(text, k):
            schema = StructType()
            for i in range(int(k.value)):
                schema = schema.add(f"tok{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, k):
            toks = (text or "").split(" ")
            yield tuple(toks[i] if i < len(toks) else None
                        for i in range(int(k)))

    spark.udtf.register("lts_prefix_tokens", PrefixTokens)
    return spark.sql("""
        SELECT d.doc_id, s.*
        FROM {docs} d, LATERAL lts_prefix_tokens(d.text, 3) s
    """, docs=load_table(spark, "documents", sf_dir))


_COUNTER_STREAM_ORACLE = """
SELECT CAST(i AS INTEGER) AS i, CAST(i * 3 AS INTEGER) AS v
FROM (SELECT unnest(range(0, 900)) AS i)
"""


@register("source_python_datasource_stream", oracle=_COUNTER_STREAM_ORACLE)
def source_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom connector via the Python DataSource API — the
    Kafka-replacement story end-to-end: an offset-tracked
    SimpleDataSourceStreamReader is drained through repeated AvailableNow
    runs sharing ONE checkpoint, each restart recovering the committed
    offset (so the drain loop itself exercises restart-from-checkpoint
    several times), with `readBetweenOffsets` supplying exact replay for
    any committed-but-unflushed batch. Each micro-batch lands in its own
    batchId-keyed parquet directory via foreachBatch (overwrite-by-batch
    = idempotent under retry), and the read-back of all batches must be
    value-exact against the regenerated feed — proving exactly-once
    across process-restart boundaries for a from-scratch connector."""
    import glob as _glob
    import os
    import shutil
    import tempfile
    import uuid

    from lambdatotheslaughter_spark.sources.python_ds import (
        CounterStreamDataSource)

    try:
        spark.dataSource.register(CounterStreamDataSource)
    except Exception:
        pass  # already registered in this session
    run = uuid.uuid4().hex[:8]
    out = os.path.join(tempfile.gettempdir(), f"lts_pyds_stream_{run}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out, f"batch_{batch_id}"))

    with checkpoint_dir(spark, f"lts_pyds_stream_{run}") as ckpt:
        for _ in range(8):  # bound: feed is 900 rows / 450-row chunks
            writer = (spark.readStream.format("lts_counter_stream").load()
                      .writeStream.foreachBatch(sink))
            p = drain(spark, writer, ckpt).lastProgress
            if not p or p["numInputRows"] == 0:
                break
    dirs = sorted(_glob.glob(os.path.join(out, "batch_*")))
    # localCheckpoint so the per-run /tmp output dir can be removed now
    # instead of leaking across sweeps (same discipline as
    # sink_stream_to_table); eager=True pins the 900 rows in block storage.
    # Schema pinned explicitly: the batches were written from the
    # source's declared "i int, v int", so inference could only ever agree —
    # pinning skips the footer-sampling pass at plan time (guide §6).
    res = (spark.read.schema("i int, v int").parquet(*dirs)
           .select("i", "v").localCheckpoint(eager=True))
    shutil.rmtree(out, ignore_errors=True)
    return res


_COGROUP_ORACLE = """
SELECT o_orderkey,
       CAST(COUNT(l_orderkey) AS BIGINT) AS n_items,
       CAST(COALESCE(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)), 0)
            AS BIGINT) AS sum_qty_cents,
       CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
            - COALESCE(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)), 0)
            AS BIGINT) AS price_gap_cents
FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey % 1000 = 0
GROUP BY o_orderkey, o_totalprice
"""


@register("udf_cogrouped_map", oracle=_COGROUP_ORACLE)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup().applyInPandas — the two-sided Arrow boundary §2.11 hasn't
    exercised: per order key, BOTH the order row and its lineitems arrive
    as aligned pandas frames in one call (the reconciliation shape — here
    an order-vs-items audit: item count, quantity total, and the gap
    between the order's total price and the sum of its line prices, all
    in exact integer cents). Keys are sampled (o_orderkey % 1000 = 0,
    not % 100: at sf0.1 the 1%-of-keys demo paid
    ~4 ms/group × 1 500 Python group calls = 6.6 s of pure cogroup
    dispatch) so the demo stays a bounded ~0.1% of keys: per-group
    pandas overhead is the API's real cost and a full-corpus run
    belongs on the JVM aggregate path (the oracle IS that one-liner).

    Scale shape: cogroup shuffles both sides once on the key — the same
    exchange a join would pay — and each group's frames are
    order-size-bounded; nothing driver-side."""
    o = (load_table(spark, "orders", sf_dir)
         .where(F.col("o_orderkey") % 1000 == 0)
         .select("o_orderkey", "o_totalprice"))
    li = (load_table(spark, "lineitem", sf_dir)
          .where(F.col("l_orderkey") % 1000 == 0)
          .select(F.col("l_orderkey").alias("o_orderkey"),
                  "l_quantity", "l_extendedprice"))

    def audit(key, opdf: pd.DataFrame, lpdf: pd.DataFrame):
        if opdf.empty:
            return pd.DataFrame({"o_orderkey": [], "n_items": [],
                                 "sum_qty_cents": [], "price_gap_cents": []}
                                ).astype("int64")
        # tie-safe half-away-from-zero for non-negative money: floor(x+0.5)
        # matches DuckDB/F.round, unlike Python/numpy half-to-even round()
        total_cents = int(math.floor(
            float(opdf["o_totalprice"].iloc[0]) * 100 + 0.5))
        qty = int(np.floor(lpdf["l_quantity"] * 100 + 0.5)
                  .astype("int64").sum()) if len(lpdf) else 0
        price = int(np.floor(lpdf["l_extendedprice"] * 100 + 0.5)
                    .astype("int64").sum()) if len(lpdf) else 0
        return pd.DataFrame({
            "o_orderkey": [key[0]], "n_items": [len(lpdf)],
            "sum_qty_cents": [qty],
            "price_gap_cents": [total_cents - price]})

    return (o.groupBy("o_orderkey").cogroup(li.groupBy("o_orderkey"))
            .applyInPandas(audit, schema=("o_orderkey bigint, n_items bigint, "
                                          "sum_qty_cents bigint, "
                                          "price_gap_cents bigint")))


_ITER_UDF_ORACLE = """
SELECT doc_id,
       0.25 * (CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
       + 0.5 * (CAST(n_chars AS DOUBLE) / 1000.0)
       + 0.25 AS inference_score
FROM documents WHERE doc_id % 10 = 0
"""


@register("udf_pandas_iter", oracle=_ITER_UDF_ORACLE)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form pandas UDF (Iterator[Series] → Iterator[Series]) —
    the BATCH-INFERENCE shape: expensive per-worker state (a model, a
    tokenizer) initializes ONCE per partition before the batch loop, then
    every Arrow batch reuses it. The "model" here is an honestly-fake
    linear scorer with fixed weights (no ML libs in this container), so
    the oracle can replay the arithmetic exactly; in production only the
    init block changes (load weights, pin to GPU). This is THE pattern
    that makes Python-side LLM scoring viable at 100 TB — per-batch
    amortization instead of per-row or per-call model loads."""
    # Iterator/Tuple come from module scope: postponed annotations make
    # the hints strings, and PySpark resolves them via function GLOBALS —
    # a function-local import would be invisible to get_type_hints
    @F.pandas_udf("double")
    def score(batches: Iterator[Tuple[pd.Series, pd.Series]]) \
            -> Iterator[pd.Series]:
        # per-partition init: stands in for model = load_model(...)
        weights = {"w_tok": 0.25, "w_chars": 0.5, "bias": 0.25}
        for n_tok, n_chars in batches:
            yield (weights["w_tok"] * (n_tok / 100.0)
                   + weights["w_chars"] * (n_chars / 1000.0)
                   + weights["bias"])

    d = (load_table(spark, "documents", sf_dir)
         .where(F.col("doc_id") % 10 == 0)
         .select("doc_id",
                 F.size(tokens()).cast("double").alias("n_tok"),
                 F.col("n_chars").cast("double").alias("n_chars")))
    return d.select(
        "doc_id", score("n_tok", "n_chars").alias("inference_score"))


_GROUPED_AGG_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT) * user_id) AS DOUBLE)
         / CAST(SUM(user_id) AS DOUBLE) / 100.0 AS weighted_mean_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


@register("udaf_grouped_agg_pandas", oracle=_GROUPED_AGG_ORACLE)
def udaf_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the scalar-per-group form usable directly
    inside groupBy().agg() beside built-ins (applyInPandas replaces the
    whole group; this composes). Computes a user-id-weighted mean in
    exact integer space inside numpy (int64 sums are associative), with
    the two final double ops ordered identically to the oracle.

    Scale caveat, stated honestly: GROUPED_AGG has NO partial
    aggregation — each group's full columns reach one executor, so it
    belongs on bounded groups (event types) and the exact int64 trick
    makes it at least deterministic there; unbounded keys should use the
    built-in aggregate path instead."""
    @F.pandas_udf("double")
    def wmean_cents(cents: pd.Series, w: pd.Series) -> float:
        # accumulate in arbitrary-precision Python ints: numpy int64 would
        # WRAP silently on cents*w overflow while the DuckDB oracle's SUM
        # promotes to HUGEINT — object dtype keeps both sides exact
        num = int((cents.astype(object) * w.astype(object)).sum())
        den = int(w.astype(object).sum())
        return float(num) / float(den)

    # Spark refuses to mix GROUPED_AGG pandas UDFs with JVM aggregates in
    # one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a
    # second pandas aggregate rather than a built-in count
    @F.pandas_udf("long")
    def n_rows(cents: pd.Series) -> int:
        return len(cents)

    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "user_id",
        iround(F.col("value") * 100).alias("cents"))
    return (ev.groupBy("event_type")
            .agg((wmean_cents("cents", "user_id") / F.lit(100.0))
                 .alias("weighted_mean_value"),
                 n_rows("cents").cast("bigint").alias("n_events")))


_SQL_UDF_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
            THEN 'expedite' ELSE 'routine' END AS lane
FROM orders WHERE o_orderkey < 2000
"""


@register("udf_sql_registered", oracle=_SQL_UDF_ORACLE)
def udf_sql_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF registered INTO THE SQL CATALOG (`spark.udf.register`) and
    invoked from SQL text — the surface that lets analysts call Python
    extensions from plain SQL without touching the DataFrame API. The
    registration is session-idempotent; the logic is trivially re-expressed
    in the oracle because the boundary, not the body, is the point."""
    def lane(p: str) -> str:
        return "expedite" if p and p[0] in ("1", "2") else "routine"

    spark.udf.register("lts_priority_lane", lane, "string")
    return spark.sql("""
        SELECT o_orderkey, o_orderpriority,
               lts_priority_lane(o_orderpriority) AS lane
        FROM {orders} WHERE o_orderkey < 2000
    """, orders=load_table(spark, "orders", sf_dir))


@register("udf_apply_in_arrow", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""")
def udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInArrow (Spark 4): per-group pyarrow.Table in, Table
    out — the zero-copy sibling of applyInPandas that skips the pandas
    conversion entirely, which is the right boundary when the Python
    side is itself Arrow-native (polars, duckdb, arrow compute). The
    body aggregates in exact int64 (round-to-cents before summing), so
    the result hash-matches plain SQL.

    Scale shape: groupBy ships each (returnflag, linestatus) group to
    one task as Arrow record batches — group cardinality is 6, so the
    parallelism bound is the group count, exactly like any grouped-map
    op; the arithmetic itself is vectorized C++ (pyarrow.compute)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def agg(tbl: pa.Table) -> pa.Table:
        # tie-safe floor(x+0.5) for non-negative money — pc.round is
        # half-to-even while DuckDB round()/F.round are half-away-from-zero
        qty = pc.cast(pc.floor(pc.add(tbl["l_quantity"], pa.scalar(0.5))),
                      pa.int64())
        cents = pc.cast(
            pc.floor(pc.add(pc.multiply(tbl["l_extendedprice"],
                                        pa.scalar(100.0)),
                            pa.scalar(0.5))), pa.int64())
        return pa.table({
            "l_returnflag": [tbl["l_returnflag"][0].as_py()],
            "l_linestatus": [tbl["l_linestatus"][0].as_py()],
            "n": pa.array([tbl.num_rows], pa.int64()),
            "sum_qty": pa.array([pc.sum(qty).as_py()], pa.int64()),
            "sum_price_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
        })

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
    return li.groupBy("l_returnflag", "l_linestatus").applyInArrow(
        agg, schema=("l_returnflag string, l_linestatus string, n bigint, "
                     "sum_qty bigint, sum_price_cents bigint"))


# ---------------------------------------------------------------------------
# SQL-registered Python UDTF
# ---------------------------------------------------------------------------

_UDTF_SQL_ORACLE = """
SELECT CAST(b.band AS BIGINT) AS band,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
FROM (SELECT range AS band, range * 50000 AS lo,
             (range + 1) * 50000 AS hi FROM range(0, 6)) b
LEFT JOIN orders o ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.band
"""


@register("udtf_sql_registered", oracle=_UDTF_SQL_ORACLE)
def udtf_sql_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF registered INTO THE SQL CATALOG (`spark.udtf.register`)
    and invoked in the FROM clause like a native table function — the
    UDTF counterpart of udf_sql_registered: analysts call Python
    table-generating extensions from plain SQL. The UDTF generates a
    price-band dimension that LEFT-joins the facts (every band reports,
    empty bands report 0 — the sql_table_function_range pattern, with
    the spine coming from user Python instead of a builtin). The logic
    is trivially re-expressed relationally in the oracle because the
    REGISTRATION BOUNDARY, not the body, is what this key exercises.

    Scale shape: the UDTF runs once (one eval call), emitting a 6-row
    LocalRelation-sized side that broadcasts; the fact scan streams
    against it."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="band BIGINT, lo BIGINT, hi BIGINT")
    class PriceBands:
        def eval(self, n: int):
            for i in range(n):
                yield i, i * 50000, (i + 1) * 50000

    spark.udtf.register("lts_price_bands", PriceBands)
    return spark.sql("""
        SELECT b.band, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
        FROM lts_price_bands(6) b
        LEFT JOIN {orders} o
          ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        GROUP BY b.band
    """, orders=load_table(spark, "orders", sf_dir))


# ---------------------------------------------------------------------------
# Arrow-native UDTF (Spark 4.1)
# ---------------------------------------------------------------------------

_ARROW_UDTF_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
)
SELECT doc_id,
       CAST(len(l) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(l)) AS BIGINT) AS n_types,
       CAST(len(l) - len(list_distinct(l)) AS BIGINT) AS n_repeats
FROM toks
"""


@register("udtf_arrow_optimized", oracle=_ARROW_UDTF_ORACLE)
def udtf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native Python UDTF (Spark 4.1 `arrow_udtf`): eval receives a
    whole pyarrow RecordBatch and yields RecordBatches — the UDTF
    counterpart of the pandas-vs-row UDF split, removing the
    per-row Python call AND the pickle serde (a plain @udtf invokes
    eval() once per input row; this one runs once per Arrow batch,
    vectorized end-to-end). The body computes per-doc token/type/repeat
    counts with pyarrow.compute list ops — zero pandas, zero Python
    loops. Results are exact integers; the oracle is the equivalent
    static projection.

    Scale shape: map-side table function over Arrow batches —
    embarrassingly parallel, batch-granular Python crossings (~1 per
    10k rows instead of 1 per row)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udtf

    @arrow_udtf(returnType="doc_id bigint, n_tokens bigint, n_types bigint,"
                           " n_repeats bigint")
    class TokenStats:
        def eval(self, batch: pa.RecordBatch):
            tbl = pa.table(batch)
            toks = pc.split_pattern(tbl["text"], " ")
            n_tok = pc.cast(pc.list_value_length(toks), pa.int64())
            # distinct count per list: pyarrow has no list_distinct —
            # flatten + per-parent unique via a grouped aggregation
            flat = pc.list_flatten(toks)
            parents = pc.list_parent_indices(toks)
            grouped = pa.table({
                "p": parents, "t": flat
            }).group_by(["p", "t"]).aggregate([]) \
                .group_by("p").aggregate([("t", "count")])
            # docs with zero tokens can't appear in grouped; join back
            idx = pa.table({"p": pa.array(range(len(tbl)), pa.int64()),
                            "doc_id": tbl["doc_id"].combine_chunks(),
                            "n_tokens": n_tok})
            joined = idx.join(grouped, keys="p", join_type="left outer")
            n_types = pc.coalesce(pc.cast(joined["t_count"], pa.int64()),
                                  pa.scalar(0, pa.int64()))
            out = pa.table({
                "doc_id": joined["doc_id"],
                "n_tokens": joined["n_tokens"],
                "n_types": n_types,
                "n_repeats": pc.subtract(joined["n_tokens"], n_types),
            })
            yield out.combine_chunks().to_batches(max_chunksize=None)[0]

    spark.udtf.register("lts_token_stats_arrow", TokenStats)
    return spark.sql("""
        SELECT s.* FROM lts_token_stats_arrow(
            TABLE(SELECT doc_id, text FROM {docs})) s
    """, docs=load_table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# UDTF with a TABLE argument + PARTITION BY (Spark 3.5+/4)
# ---------------------------------------------------------------------------

_TABLE_ARG_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events WHERE user_id % 10 = 0 GROUP BY event_type
"""


@register("udtf_table_argument", oracle=_TABLE_ARG_ORACLE)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a TABLE(...) argument with PARTITION BY --
    the Spark-4 surface that turns a UDTF into an arbitrary
    PER-GROUP stateful processor callable from plain SQL: the engine
    routes each event_type partition through its own UDTF instance
    (eval per row, terminate emits the group's result), which is the
    SQL-facing sibling of applyInPandas/cogroup. The body here is a
    trivially-relational rollup ON PURPOSE (the key exercises the
    table-argument ROUTING contract, oracle-checkable bit-for-bit);
    a real use puts sequential per-group logic (sessionizers, parsers,
    small DP kernels) in the same shell.

    Scale shape: PARTITION BY shuffles once on the group key; each
    group streams through one Python instance row-by-row with O(1)
    state -- group-parallel, never corpus-serial. Input is sampled
    (user_id % 10): per-ROW Python eval is the API's real cost
    (~2.1 s for the full 200k-row corpus at sf0.1), and the routing
    contract under test is grain-independent."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="event_type string, n_events bigint, "
                     "total_cents bigint")
    class TypeRollup:
        def __init__(self):
            self._key = None
            self._n = 0
            self._sum = 0

        def eval(self, row):
            self._key = row["event_type"]
            self._n += 1
            self._sum += row["cents"]

        def terminate(self):
            if self._key is not None:
                yield self._key, self._n, self._sum

    spark.udtf.register("lts_type_rollup", TypeRollup)
    ev = (load_table(spark, "events", sf_dir)
          .where(F.col("user_id") % 10 == 0)
          .select("event_type", round_cents("value").alias("cents")))
    return spark.sql("""
        SELECT * FROM lts_type_rollup(
          TABLE(SELECT event_type, cents FROM {ev})
          PARTITION BY event_type)
    """, ev=ev)
