"""Speed-layer operators, batch-twin form (SURVEY.md §2.9).

Every streaming operator here is registered as its BATCH twin over the
events table — the form the DuckDB oracle can check. The genuinely
streaming execution (readStream file-source micro-batches, watermarks,
state store, foreachBatch upsert) runs in lambdatotheslaughter_spark/
streaming/harness.py and is proven equivalent to these twins in
tests/test_streaming.py — that twin-equivalence is the real streaming
correctness check; the driver sees the oracled twins.

The same F.window / session_window / dropDuplicates expressions are used by
both forms, so the twin is not a reimplementation — it's the identical plan
run over a bounded source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import (
    DEC, dsum, oracle_dsum, round_cents)
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.streaming.harness import (checkpoint_dir, drain,
                                                          drain_to_memory)
from lambdatotheslaughter_spark.tables import drop_managed_table, load_table


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Shared by batch twin and streaming harness (identical plan)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )


_TUMBLING_ORACLE = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events, {oracle_dsum('value')} AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


@register("stream_tumbling_agg", oracle=_TUMBLING_ORACLE)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows by event type. Epoch-aligned F.window ==
    date_trunc('hour') for the oracle. Streaming form adds
    withWatermark('ts', '10 minutes') and nothing else."""
    return tumbling_agg(load_table(spark, "events", sf_dir))


def sliding_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


_SLIDING_ORACLE = """
WITH expanded AS (
  SELECT CAST(to_timestamp((CAST(floor(epoch_us(ts) / 900000000.0) AS BIGINT) - k) * 900)
              AS TIMESTAMP) AS window_start,
         event_type
  FROM events, (SELECT unnest(generate_series(0, 3)) AS k)
)
SELECT window_start, event_type, COUNT(*) AS n_events
FROM expanded
GROUP BY window_start, event_type
"""


@register("stream_sliding_agg", oracle=_SLIDING_ORACLE)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min: each event lands in exactly 4
    windows (Spark's window() explode). Oracle reproduces the 4-slot grid
    arithmetic from epoch microseconds."""
    return sliding_agg(load_table(spark, "events", sf_dir))


def session_window_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )


_SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
         -- strict >: Spark's session_window MERGES an event landing
         -- exactly at prev_end + gap (touching windows coalesce —
         -- verified empirically, tests/test_streaming.py boundary-tie
         -- fixture), so only a strictly later event opens a session
         CASE WHEN ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        + INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_no
"""


@register("stream_session_window", oracle=_SESSION_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-min inactivity gap via native
    session_window (merge-on-overlap). Oracle is the classic lag+cumsum
    sessionization — an independent formulation, which is the point:
    session_end == last event + gap in both."""
    return session_window_agg(load_table(spark, "events", sf_dir))


def dedup_first_per_key(events: DataFrame) -> DataFrame:
    return events.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"),
        F.min_by("event_id", "ts").alias("first_event_id"))


_DEDUP_ORACLE = """
SELECT user_id, event_type,
       MIN(ts) AS first_ts,
       arg_min(event_id, ts) AS first_event_id
FROM events
GROUP BY user_id, event_type
"""


@register("stream_dedup", oracle=_DEDUP_ORACLE)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup per (user, event_type) — the batch twin of
    dropDuplicatesWithinWatermark (event_id itself is unique in the data, so
    the compound key is what exercises keep-first). min_by == arg_min; ts is
    unique per user so the winner is total-order determined."""
    return dedup_first_per_key(load_table(spark, "events", sf_dir))


_RUNNING_ORACLE = """
SELECT event_id, user_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(38,6)))
            OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_so_far
FROM events
"""


@register("stream_stateful_running", oracle=_RUNNING_ORACLE)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user aggregate — the Kudu-upsert speed-layer view
    (SURVEY §2.9). Batch twin is a decimal-space running window; the
    streaming form maintains the same state via applyInPandasWithState
    (tests/test_streaming.py)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id", "user_id", "ts",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("running_value"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_so_far"),
    )


def enrich_with_customer(events: DataFrame, customer: DataFrame) -> DataFrame:
    joined = events.join(
        F.broadcast(customer),
        events.user_id + 1 == customer.c_custkey)
    return joined.select("event_id", "user_id", "event_type", "value",
                         "c_mktsegment", "c_nationkey")


_ENRICH_ORACLE = """
SELECT event_id, user_id, event_type, value, c_mktsegment, c_nationkey
FROM events JOIN customer ON user_id + 1 = c_custkey
"""


@register("stream_join_enrich", oracle=_ENRICH_ORACLE)
def stream_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (events ⋈ broadcast customer dim;
    user_id+1 == c_custkey is the synthetic key mapping). In streaming form
    the same broadcast join runs per micro-batch."""
    return enrich_with_customer(load_table(spark, "events", sf_dir),
                                load_table(spark, "customer", sf_dir))


_WM_CHUNK = 1000  # arrival micro-batch size (event_id order)

_WATERMARK_ORACLE = f"""
WITH chunked AS (
  SELECT event_type, ts, event_id // {_WM_CHUNK} AS chunk FROM events
), chunk_max AS (
  SELECT chunk, MAX(ts) AS mx FROM chunked GROUP BY chunk
), wm AS (
  SELECT chunk,
         MAX(mx) OVER (ORDER BY chunk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - INTERVAL 10 MINUTE AS wm
  FROM chunk_max
)
SELECT event_type,
       COUNT(*) FILTER (WHERE wm.wm IS NULL OR ts >= wm.wm) AS n_kept,
       COUNT(*) FILTER (WHERE ts < wm.wm) AS n_dropped_late
FROM chunked JOIN wm USING (chunk)
GROUP BY event_type
"""


@register("stream_watermark_late", oracle=_WATERMARK_ORACLE)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data policy, replayed deterministically at Structured
    Streaming's actual granularity: arrival order is event_id order chunked
    into micro-batches of _WM_CHUNK rows; the watermark a row sees is
    max(ts) over all PRIOR chunks minus 10 min (Spark advances watermarks
    at batch boundaries, never mid-batch — so this is the faithful replay;
    a per-row running max would be both stricter than the engine and a
    single-task scan). Scale shape: per-chunk maxes are one map-side
    combinable groupBy; the running max runs over the CHUNK SUMMARY (4-5
    orders of magnitude smaller than the data — thousands of rows at
    100 TB), and rejoins via broadcast. The full events table never passes
    through a single-partition window. Live append-mode dropping is
    asserted in tests/test_streaming.py."""
    ev = load_table(spark, "events", sf_dir) \
        .withColumn("chunk", F.floor(F.col("event_id") / _WM_CHUNK))
    chunk_max = ev.groupBy("chunk").agg(F.max("ts").alias("mx"))
    w = Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding, -1)
    wm_df = chunk_max.select(
        "chunk",
        (F.max("mx").over(w) - F.expr("INTERVAL 10 MINUTE")).alias("wm"))
    marked = ev.join(F.broadcast(wm_df), "chunk")
    return marked.groupBy("event_type").agg(
        F.count(F.when(F.col("wm").isNull() | (F.col("ts") >= F.col("wm")), 1))
         .alias("n_kept"),
        F.count(F.when(F.col("ts") < F.col("wm"), 1)).alias("n_dropped_late"),
    )


@register("sink_stream_console_memory", oracle=_TUMBLING_ORACLE)
def sink_stream_console_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming memory sink (SURVEY §2.1): actually runs a Structured
    Streaming query inside the driver's session — file source over the
    events parquet, tumbling aggregation, complete-mode memory sink drained
    with AvailableNow — and returns the sink table. Same oracle as the
    tumbling twin because the stream provably converges to the batch result.
    """
    # stream straight from the sf parquet (footer-dispatched ns/µs ts
    # normalization shared with load_table)
    from lambdatotheslaughter_spark.tables import events_reader

    src = events_reader(spark, sf_dir, streaming=True)
    return drain_to_memory(spark, tumbling_agg(src), "complete", "lts_mem")[0]


_STATE_OP_ORACLE = """
SELECT user_id,
       round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4) AS total_value,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
"""


@register("stream_stateful_state_op", oracle=_STATE_OP_ORACLE)
def stream_stateful_state_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming op (applyInPandasWithState) run live
    inside the caller's session: file-stream source → per-user GroupState
    accumulation → memory sink. With the whole file as one micro-batch the
    final state emission is deterministic, so it gets a full oracle —
    the state-store path itself is driver-checkable, not just its twin.
    Rounded to 4 dp: the in-state accumulator is a float64 (pandas) sum.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from lambdatotheslaughter_spark.tables import events_reader

    src = events_reader(spark, sf_dir, streaming=True)

    def accumulate(key, pdf_iter, state):
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdf_iter:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame({"user_id": [key[0]],
                            "total_value": [round(total, 4)],
                            "n_events": [n]})

    out = src.groupBy("user_id").applyInPandasWithState(
        accumulate,
        outputStructType="user_id bigint, total_value double, n_events bigint",
        stateStructType="total double, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    return drain_to_memory(spark, out, "update", "lts_state")[0]


def interval_pair_join(views: DataFrame, clicks: DataFrame,
                       how: str = "inner") -> DataFrame:
    """Shared by the batch twins and the LIVE stream-stream join tests
    (identical join condition — the twin is the same plan over a bounded
    source). view→click attribution within 30 minutes per user.
    how='left_outer' keeps unmatched views with NULL click — in the live
    watermarked form Spark emits those rows only once the watermark
    proves no in-window click can still arrive (state-eviction time)."""
    v = views.select(F.col("event_id").alias("view_id"), "user_id",
                     F.col("ts").alias("view_ts"))
    c = clicks.select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("click_ts"))
    return (v.join(c, (v.user_id == c.c_user)
                   & (F.col("click_ts") >= F.col("view_ts"))
                   & (F.col("click_ts") <= F.col("view_ts")
                      + F.expr("INTERVAL 30 MINUTES")), how)
            .select("view_id", "click_id", "user_id",
                    # exact micros diff: casting each ts to whole seconds
                    # first truncates per-side and disagrees with the
                    # oracle's fractional epoch by ±1 on sub-second data
                    (F.unix_micros("click_ts")
                     - F.unix_micros("view_ts")).alias("delay_us")))


_INTERVAL_JOIN_ORACLE = """
SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS delay_us
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


@register("stream_interval_join", oracle=_INTERVAL_JOIN_ORACLE)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch-twin form: view→click pairs
    within 30 minutes per user. The live form (tests/test_streaming.py)
    runs the SAME interval_pair_join over two watermarked readStream
    branches — Spark's state store keeps only rows inside
    watermark + interval, so state is bounded no matter how long the
    streams run. Batch shape: one shuffle on user_id, then the time
    predicate filters within co-partitioned groups — the equi key carries
    the join; the range condition never degenerates to a cross product."""
    ev = load_table(spark, "events", sf_dir)
    return interval_pair_join(ev.where(F.col("event_type") == "view"),
                              ev.where(F.col("event_type") == "click"))


_INTERVAL_OUTER_ORACLE = """
SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS delay_us
FROM events v LEFT JOIN events c
  ON v.user_id = c.user_id AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view'
"""


@register("stream_interval_join_outer", oracle=_INTERVAL_OUTER_ORACLE)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, LEFT OUTER form: every view appears,
    unanswered views with NULL click — the funnel-drop-off shape (views
    that never converted within the window) the inner join can't report.
    This is the semantically hardest streaming join: the null verdict is
    NEGATIVE information, provable only once the watermark passes
    view_ts + 30 min, so the live form (tests/test_streaming.py) emits
    matches as they arrive and null rows at state-EVICTION time; rows
    whose window is still open when the stream pauses stay in state —
    the live test pins exactly that split against this batch twin.
    Batch shape: same single user_id shuffle as the inner twin; the
    click-side filter lives in the JOIN condition, not a WHERE (a WHERE
    would turn the outer join back into an inner one)."""
    ev = load_table(spark, "events", sf_dir)
    return interval_pair_join(ev.where(F.col("event_type") == "view"),
                              ev.where(F.col("event_type") == "click"),
                              how="left_outer")


_UPSERT_ORACLE = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


@register("stream_upsert_latest", oracle=_UPSERT_ORACLE)
def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-upsert serving view: the latest event per user — what the
    foreachBatch parquet-merge sink (streaming/harness.py
    upsert_foreach_batch, live-tested in tests/test_streaming.py) converges
    to after draining the stream. Batch twin and merge share ONE
    latest_per_user definition, ties pinned by event_id, so the speed
    layer and batch layer provably serve the same rows. Scale shape: one
    shuffle on user_id; at 100 TB the serving store would be a key-value
    table (the Kudu role) and the merge an idempotent MERGE INTO —
    identical semantics, different sink."""
    from lambdatotheslaughter_spark.streaming.harness import latest_per_user

    ev = load_table(spark, "events", sf_dir)
    return latest_per_user(ev).select(
        "user_id", "event_id", "ts", "event_type", "value")


def windowed_counts(events: DataFrame) -> DataFrame:
    """Maintained aggregate under topk_per_window — the streaming-safe
    half (pure windowed groupBy, runs in complete/update mode)."""
    return (events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events"))


def topk_per_window(counts: DataFrame) -> DataFrame:
    """Serving-layer top-2 rank over the maintained counts — the batch
    half (row_number is not incrementally computable, so it runs against
    the sink, not inside the stream)."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type"))
    return (counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 2)
            .select("window_start", "event_type", "n_events",
                    F.col("rn").cast("int").alias("rn")))


_TOPK_WINDOW_ORACLE = """
SELECT window_start, event_type, n_events, CAST(rn AS INTEGER) AS rn FROM (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         COUNT(*) AS n_events,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY COUNT(*) DESC, event_type) AS rn
  FROM events
  GROUP BY date_trunc('hour', ts), event_type
) WHERE rn <= 2
"""


@register("stream_topk_per_window", oracle=_TOPK_WINDOW_ORACLE)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-now: top-2 event types per 1-hour tumbling window. The
    lambda split is the point: the WINDOWED COUNT is incrementally
    maintainable and runs inside the stream (update/complete mode, state =
    one counter per (window, type)); the RANK is not (a late event can
    demote a previously-emitted leader), so it runs as a cheap batch query
    over the maintained sink — the classic speed-layer/serving-layer
    boundary, exercised live in tests/test_streaming.py where the
    stream-maintained counts are ranked and must equal this batch twin
    row-for-row. Rank state is O(windows × types); the heavy shuffle is
    the count, map-side combinable."""
    ev = load_table(spark, "events", sf_dir)
    return topk_per_window(windowed_counts(ev))


_DYN_GAP_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE event_type WHEN 'view' THEN 2700000000
                         WHEN 'click' THEN 1800000000
                         ELSE 900000000 END AS gap_us
  FROM events
), marked AS (
  SELECT user_id, event_id, ts, gap_us,
         MAX(epoch_us(ts) + gap_us) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM g
), numbered AS (
  -- ORDER BY ts, event_id: BOTH windows must share one deterministic
  -- total order, else a duplicate-ts boundary row can be numbered into
  -- the wrong session (DuckDB's tie order is unspecified).
  -- Strict >: an event at exactly prev_end MERGES in Spark's
  -- session_window (touching windows coalesce), so only strictly-later
  -- events open a new session.
  SELECT user_id, ts, gap_us,
         SUM(CASE WHEN prev_end IS NULL
                    OR epoch_us(ts) > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       make_timestamp(MAX(epoch_us(ts) + gap_us)) AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_no
"""


@register("stream_session_window_dynamic_gap", oracle=_DYN_GAP_ORACLE)
def stream_session_window_dynamic_gap(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Sessionization with a PER-EVENT gap (Spark's dynamic-gap
    session_window): a view keeps its session alive 45 min, a click 30,
    anything else 15 — the engagement-weighted timeout real attribution
    systems use, inexpressible with a constant gap. Each event
    contributes the interval [ts, ts+gap(event)); sessions are unions of
    overlapping intervals, so session_end is the MAX of per-event ends,
    not last-event + constant.

    The oracle generalizes the classic sessionization: the lag-only
    boundary test is WRONG under variable gaps (an earlier long-gap
    event can outlast its successor), so it uses the running MAX of
    prior interval ends — new session iff ts is STRICTLY past that max
    (a tie merges, matching session_window's coalescing of touching
    intervals). Same single
    (user, time) shuffle shape as the static twin; streaming-safe (state
    per open session, watermark-evictable — the live form runs in
    tests/test_streaming.py over the same shared dataflow)."""
    return dynamic_gap_session_agg(load_table(spark, "events", sf_dir))


def dynamic_gap_session_agg(events: DataFrame) -> DataFrame:
    """Shared by the batch twin and the live micro-batch test."""
    gap = (F.when(F.col("event_type") == "view", F.lit("45 minutes"))
           .when(F.col("event_type") == "click", F.lit("30 minutes"))
           .otherwise(F.lit("15 minutes")))
    return (events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "n_events"))


@register("sink_stream_to_table", oracle=_TUMBLING_ORACLE)
def sink_stream_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming into a CATALOG table (`writeStream.toTable`) — the
    managed serving-layer streaming sink: where sink_stream_console_memory
    lands in session-scoped memory, this commits micro-batches into a
    warehouse table other sessions and batch jobs can read by name (the
    Hive/Kudu serving-table analog, reached directly from the stream
    instead of via foreachBatch). A parquet-backed catalog table only
    supports APPEND mode, which forces the production split: the stream
    appends immutable raw micro-batches into the table (the master-
    dataset ingest), and the aggregate runs at READ time through the
    catalog — exactly the lambda batch-layer contract, and the appended
    table provably converges to the same oracle as the batch twin.
    Fresh table + checkpoint per run, dropped after the read-back."""
    import uuid

    from lambdatotheslaughter_spark.tables import events_reader

    table = f"lts_stream_serving_{uuid.uuid4().hex[:8]}"
    src = events_reader(spark, sf_dir, streaming=True)
    with checkpoint_dir(spark, table) as ckpt:
        drain(spark, src.writeStream.outputMode("append"), ckpt,
              start=lambda w: w.toTable(table))
    out = tumbling_agg(spark.table(table)).localCheckpoint(eager=True)
    drop_managed_table(spark, table)
    return out


# ---------------------------------------------------------------------------
# deterministic rate source + checkpoint resume
# ---------------------------------------------------------------------------

_RATE_RESUME_ORACLE = """
WITH src AS (
  SELECT v, CAST(floor(CAST(floor(v / 100) AS BIGINT) / 2.0) AS BIGINT)
           AS wk
  FROM (SELECT unnest(range(0, 300)) AS v)
)
SELECT CAST(make_timestamp(wk * 120 * 1000000) AS VARCHAR) AS w_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM src GROUP BY wk
"""


@register("stream_rate_source_resume", oracle=_RATE_RESUME_ORACLE)
def stream_rate_source_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rate-micro-batch` SOURCE + CHECKPOINT RESUME: the deterministic
    load-generator source (fixed rowsPerBatch, epoch-pinned timestamps
    advancing a fixed step per batch — built for reproducible stream
    testing, unlike `rate` which follows the wall clock), driven
    through THREE separate availableNow runs that SHARE one checkpoint.
    Each run picks up exactly where the last committed offset left off
    — run 1 emits values 0-99 at t=0, run 2 values 100-199 at t=60s,
    run 3 values 200-299 at t=120s — so the final windowed aggregate
    over the appended sink proves offset tracking survived two full
    stop/start cycles. That recovery contract is THE operational
    property a 100 TB ingest pipeline stands on: crash, redeploy, and
    the stream resumes without loss or replay.

    The oracle is the CLOSED FORM of the source contract (300 values,
    batch k at k·60 s, 2-minute windows) — engine-independent, so the
    driver value-checks both the source's determinism and the resume
    arithmetic. Windows are emitted as epoch-derived strings (UTC
    session timezone, house rule for timestamp cells)."""
    import uuid

    table = f"lts_rate_sink_{uuid.uuid4().hex[:8]}"
    with checkpoint_dir(spark, table) as ckpt:
        for _ in range(3):
            src = (spark.readStream.format("rate-micro-batch")
                   .option("rowsPerBatch", 100)
                   .option("numPartitions", 2)
                   .option("startTimestamp", 0)
                   .option("advanceMillisPerBatch", 60000)
                   .load())
            drain(spark, src.writeStream.outputMode("append"), ckpt,
                  start=lambda w: w.toTable(table))
    out = (spark.table(table)
           .groupBy(F.window("timestamp", "2 minutes").alias("w"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("value").cast("bigint").alias("vsum"))
           .select(F.col("w.start").cast("string").alias("w_start"),
                   "n", "vsum")
           .localCheckpoint(eager=True))
    drop_managed_table(spark, table)
    return out


# ---------------------------------------------------------------------------
# chained windowed aggregations (Spark 4 multi-stateful append)
# ---------------------------------------------------------------------------

def chained_window_agg(events: DataFrame) -> DataFrame:
    """Hourly window agg, then a DAILY window agg over the hourly
    window column (window_time re-windowing) — two stateful operators
    chained in one plan, the Spark-4 capability that previously forced
    an intermediate sink between the two."""
    hourly = (events
              .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")))
    return (hourly
            .groupBy(F.window(F.window_time("w"), "1 day").alias("d"),
                     "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hours"),
                 F.sum("n_events").cast("bigint").alias("total_events"),
                 F.max("n_events").cast("bigint").alias("max_hourly"))
            .select(F.col("d.start").alias("day_start"), "event_type",
                    "n_hours", "total_events", "max_hourly"))


_CHAINED_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, date_trunc('hour', ts)
)
SELECT date_trunc('day', hr) AS day_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(MAX(n_events) AS BIGINT) AS max_hourly
FROM hourly GROUP BY date_trunc('day', hr), event_type
"""


@register("stream_chained_window_agg", oracle=_CHAINED_ORACLE)
def stream_chained_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained time-window aggregations — hourly counts re-windowed into
    a daily rollup INSIDE one query via window_time() over the hourly
    window struct. Until Spark 3.5/4 a stream could hold only one
    stateful operator, so this two-level rollup needed an intermediate
    Kafka/Delta hop; chaining removes a whole pipeline stage (and its
    storage, latency, and exactly-once seam). Batch twin here (epoch-
    aligned window == date_trunc for the oracle); the STREAMING form —
    watermark + both windows in append mode — is proven equivalent to
    this twin in tests/test_streaming.py.

    Scale shape: two combinable window groupBys, the second over the
    hourly-grain table (calendar-bounded); streaming state is one hour
    of partials + one day of rollups per type — O(windows), not
    O(events)."""
    return chained_window_agg(load_table(spark, "events", sf_dir))


# ---------------------------------------------------------------------------
# drift-monitor bucket counts: streaming twin
# ---------------------------------------------------------------------------

def drift_bucket_counts(events: DataFrame) -> DataFrame:
    """The dq_distribution_drift_psi INPUT state as a streaming-friendly
    aggregate: per (value bucket, half-month flag) purchase counts."""
    cents = round_cents("value")
    return (events.where(F.col("event_type") == "purchase")
            .select(F.least(F.lit(9), F.floor(cents / 5000))
                    .cast("bigint").alias("bucket"),
                    (F.dayofmonth("ts") <= 15).alias("first_half"))
            .groupBy("bucket", "first_half")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


_DRIFT_TWIN_ORACLE = """
SELECT LEAST(9, CAST(round(value * 100, 0) AS BIGINT) // 5000) AS bucket,
       dayofmonth(ts) <= 15 AS first_half,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE event_type = 'purchase'
GROUP BY LEAST(9, CAST(round(value * 100, 0) AS BIGINT) // 5000),
         dayofmonth(ts) <= 15
"""


@register("stream_drift_bucket_counts", oracle=_DRIFT_TWIN_ORACLE)
def stream_drift_bucket_counts(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The drift monitor's speed-layer half: the (bucket, half) count
    state dq_distribution_drift_psi derives PSI from, maintained as a
    plain streaming aggregate (complete mode; a 20-cell state store) --
    so the retrain-trigger updates per micro-batch instead of per
    nightly batch, and the batch PSI is ONE arithmetic step over this
    table. Registered as the batch twin (the house streaming
    convention); test_streaming.py proves the harness-streamed form
    emits the identical table.

    Scale shape: streaming state is <= 20 cells regardless of volume;
    the batch twin is one combinable groupBy."""
    return drift_bucket_counts(load_table(spark, "events", sf_dir))


# ---------------------------------------------------------------------------
# SPRT monitor state: streaming twin
# ---------------------------------------------------------------------------

def sprt_daily_counts(events: DataFrame) -> DataFrame:
    """stat_sprt_daily's INPUT state as a streaming-friendly aggregate:
    per-day (trials, successes) for the conversion SPRT."""
    return (events.where(F.col("event_type").isin("click", "purchase"))
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.count(F.when(F.col("event_type") == "purchase", 1))
                 .cast("bigint").alias("k")))


_SPRT_TWIN_ORACLE = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS k
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY strftime(CAST(ts AS DATE), '%Y-%m-%d')
"""


@register("stream_sprt_monitor", oracle=_SPRT_TWIN_ORACLE)
def stream_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequential test's speed-layer half: the per-day
    (trials, successes) state stat_sprt_daily folds into its Wald LLR —
    maintained as a plain streaming aggregate (complete mode; one state
    cell per calendar day), so the stop-early decision can fire the
    micro-batch the boundary is crossed instead of at the nightly
    batch (the stream_drift_bucket_counts pattern applied to
    sequential testing). Registered as the batch twin (house streaming
    convention); test_streaming.py proves the harness-streamed form
    emits the identical table.

    Scale shape: streaming state is calendar-bounded (one row per
    day); the batch twin is one combinable two-count fold."""
    return sprt_daily_counts(load_table(spark, "events", sf_dir))


# ---------------------------------------------------------------------------
# changepoint monitor state: streaming twin
# ---------------------------------------------------------------------------

def changepoint_daily_revenue(events: DataFrame) -> DataFrame:
    """ts_changepoint_cusum_argmax's INPUT state as a streaming-friendly
    aggregate: per-day purchase cents (one state cell per calendar
    day); the |CUSUM| argmax is one bounded-domain arithmetic step over
    this table per micro-batch."""
    return (events.where(F.col("event_type") == "purchase")
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.sum(round_cents("value")).cast("bigint").alias("cents")))


_CHANGEPOINT_TWIN_ORACLE = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events WHERE event_type = 'purchase'
GROUP BY strftime(CAST(ts AS DATE), '%Y-%m-%d')
"""


@register("stream_changepoint_monitor", oracle=_CHANGEPOINT_TWIN_ORACLE)
def stream_changepoint_monitor(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The changepoint detector's speed-layer half: the per-day revenue
    state ts_changepoint_cusum_argmax maximizes its |CUSUM| over,
    maintained as a plain streaming aggregate (complete mode; one state
    cell per calendar day) — so did-the-level-shift fires the
    micro-batch the break happens instead of at the nightly batch (the
    stream_sprt_monitor pattern applied to changepoint detection).
    Registered as the batch twin (house streaming convention);
    test_streaming.py proves the harness-streamed form emits the
    identical table.

    Scale shape: streaming state is calendar-bounded (one row per
    day); the batch twin is one combinable fold."""
    return changepoint_daily_revenue(load_table(spark, "events", sf_dir))
