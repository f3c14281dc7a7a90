"""Twin-equivalence: the REAL streaming correctness check (SURVEY §2.9/§5).

Each test runs the genuinely-streaming form (file-source micro-batches,
memory/foreachBatch sink) and asserts it reproduces the oracled batch twin.
sf0.001 (1,000 events) keeps each streaming query a few seconds.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest

from pyspark.sql import functions as F

from lambdatotheslaughter_spark.operators import streaming_twins as tw
from lambdatotheslaughter_spark.streaming.harness import (
    EventStreamHarness, checkpoint_dir, drain, drop_serving, latest_per_user,
    read_serving, upsert_foreach_batch)
from lambdatotheslaughter_spark.tables import load_table
from tests.conftest import SMOKE_SF_DIR, canonical_rows


@pytest.fixture
def harness(spark):
    h = EventStreamHarness(spark, SMOKE_SF_DIR, n_chunks=4)
    yield h
    h.cleanup()


def _assert_same(stream_df, batch_df, name):
    s, b = stream_df.toPandas(), batch_df.toPandas()
    assert sorted(s.columns) == sorted(b.columns), name
    assert canonical_rows(s) == canonical_rows(b), f"{name}: stream != batch twin"


def test_tumbling_agg_twin(spark, harness):
    """Also pins the sizing: the stateful query runs one state partition
    per core while the session keeps its batch-layer partition count."""
    batch_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    out = harness.run(tw.tumbling_agg, output_mode="complete")
    _assert_same(out, tw.tumbling_agg(load_table(spark, "events", SMOKE_SF_DIR)),
                 "tumbling")
    ops = harness.last_query.lastProgress["stateOperators"]
    assert ops, "tumbling_agg reported no state operator"
    assert {o["numShufflePartitions"] for o in ops} == {
        spark.sparkContext.defaultParallelism}
    assert spark.conf.get("spark.sql.shuffle.partitions") == batch_partitions


def test_drain_timeout_raises_and_stops(spark, harness):
    """A drain that cannot finish in time raises instead of handing back a
    partial sink table, and leaves no query running."""
    writer = (tw.tumbling_agg(harness.source()).writeStream
              .outputMode("complete").format("memory").queryName("lts_timeout"))
    with checkpoint_dir(spark, "lts_timeout") as ckpt:
        with pytest.raises(TimeoutError):
            drain(spark, writer, ckpt, timeout=0.01)
    assert not spark.streams.active


def test_session_window_twin(spark, harness):
    out = harness.run(tw.session_window_agg, output_mode="complete")
    _assert_same(out,
                 tw.session_window_agg(load_table(spark, "events", SMOKE_SF_DIR)),
                 "session_window")


def test_stream_static_join_twin(spark, harness):
    cust = load_table(spark, "customer", SMOKE_SF_DIR)
    out = harness.run(lambda s: tw.enrich_with_customer(s, cust),
                      output_mode="append")
    _assert_same(out,
                 tw.enrich_with_customer(load_table(spark, "events", SMOKE_SF_DIR), cust),
                 "stream_static_join")


def test_replay_dedup_exactly_once(spark):
    """Feed the whole stream TWICE; dropDuplicatesWithinWatermark on
    event_id must make delivery exactly-once: output == one copy."""
    h = EventStreamHarness(spark, SMOKE_SF_DIR, n_chunks=2, arrival="replay")
    try:
        out = h.run(
            lambda s: s.withWatermark("ts", "10 minutes")
                       .dropDuplicatesWithinWatermark(["event_id"]),
            output_mode="append")
        n_stream = out.count()
        n_batch = load_table(spark, "events", SMOKE_SF_DIR).count()
        assert n_stream == n_batch, f"replay not deduped: {n_stream} vs {n_batch}"
    finally:
        h.cleanup()


def test_watermark_drops_late_interleaved(spark):
    """Interleaved arrival: every chunk spans the full month, so chunks 2..4
    deliver data far behind the watermark. Append-mode windowed counts must
    drop those late rows (strictly fewer events than the batch total), while
    in-order arrival loses nothing."""
    def agg(s):
        return (s.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count(F.lit(1)).alias("n")))

    h_late = EventStreamHarness(spark, SMOKE_SF_DIR, n_chunks=4, arrival="interleaved")
    try:
        late_total = (h_late.run(agg, output_mode="append")
                      .agg(F.sum("n")).collect()[0][0] or 0)
    finally:
        h_late.cleanup()
    batch_total = load_table(spark, "events", SMOKE_SF_DIR).count()
    assert late_total < batch_total, (
        f"late data was not dropped: streamed {late_total} >= batch {batch_total}")
    assert late_total >= batch_total // 4, "append emitted almost nothing — harness broken"


def test_stateful_running_twin(spark, harness):
    """applyInPandasWithState running per-user totals: final state must equal
    the batch twin's final row per user (update-mode emissions, last wins)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def stateful(s):
        def fn(key, pdf_iter, state):
            total, n = state.get if state.exists else (0.0, 0)
            for pdf in pdf_iter:
                total += float(pdf["value"].sum())
                n += len(pdf)
            state.update((total, n))
            yield pd.DataFrame({"user_id": [key[0]],
                                "running_value": [total],
                                "n_so_far": [n]})
        return s.groupBy("user_id").applyInPandasWithState(
            fn,
            outputStructType="user_id bigint, running_value double, n_so_far bigint",
            stateStructType="total double, n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout)

    out = harness.run(stateful, output_mode="update").toPandas()
    # last emission per user = final state
    final = out.groupby("user_id").last().reset_index()
    twin = (tw.stream_stateful_running(spark, SMOKE_SF_DIR)
            .groupBy("user_id")
            .agg(F.max_by("running_value", "ts").alias("running_value"),
                 F.max("n_so_far").alias("n_so_far"))
            .toPandas())
    merged = final.merge(twin, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(twin)
    assert (merged["n_so_far_s"] == merged["n_so_far_b"]).all()
    assert (merged["running_value_s"].round(4) == merged["running_value_b"].round(4)).all()


def test_foreach_batch_upsert_serving_table(spark, harness):
    """foreachBatch upsert into a keyed parquet serving table (the Kudu
    analog): after draining the stream, the table holds exactly the latest
    event per user — identical to the batch last-per-user view. A reader
    polling the table while the merges swap new versions in always finds a
    whole table (one row per user)."""
    import threading

    serving = os.path.join(tempfile.gettempdir(), "lts_serving_upsert")
    drop_serving(serving)
    merge = upsert_foreach_batch(serving)
    done = threading.Event()
    read_version = threading.Event()
    errors, reads = [], []

    def reader():
        while not done.is_set():
            # before the first merge there is no table yet; after it, the
            # table must never be missing
            if not reads and not os.path.exists(serving):
                done.wait(0.01)
                continue
            try:
                ids = [r.user_id for r in read_serving(spark, serving)
                       .select("user_id").collect()]
                assert ids and len(ids) == len(set(ids)), "not a whole table"
            except Exception as e:  # noqa: BLE001 — any failure fails the test
                errors.append(e)
                read_version.set()  # release a waiting merge
                return
            reads.append(len(ids))
            read_version.set()

    def merge_then_wait_for_a_read(batch_df, batch_id):
        # keeps the reader busy across every swap, not just the last one
        merge(batch_df, batch_id)
        read_version.clear()
        if not errors:
            read_version.wait(timeout=60)

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        harness.run(lambda s: s, output_mode="append",
                    foreach_batch=merge_then_wait_for_a_read)
    finally:
        done.set()
        t.join(timeout=60)
    try:
        assert not t.is_alive(), "serving reader did not stop"
        assert not errors, f"serving reader failed during a swap: {errors[0]}"
        assert len(reads) >= 4, reads
        got = spark.read.parquet(serving).select("user_id", "event_id", "ts")
        want = latest_per_user(load_table(spark, "events", SMOKE_SF_DIR)) \
            .select("user_id", "event_id", "ts")
        _assert_same(got, want, "foreach_batch_upsert")
    finally:
        drop_serving(serving)


def test_sliding_agg_twin(spark, harness):
    out = harness.run(tw.sliding_agg, output_mode="complete")
    _assert_same(out, tw.sliding_agg(load_table(spark, "events", SMOKE_SF_DIR)),
                 "sliding")


def test_kafka_envelope_streaming_parse(spark, harness):
    """The envelope contract works identically under a streaming source:
    serialize each micro-batch into the Kafka shape, parse it back, append
    to memory — equals the batch parse of the whole table."""
    from lambdatotheslaughter_spark.sources.kafka import parse_envelope, to_envelope

    out = harness.run(lambda s: parse_envelope(to_envelope(s)),
                      output_mode="append")
    want = parse_envelope(to_envelope(load_table(spark, "events", SMOKE_SF_DIR)))
    _assert_same(out, want, "kafka_envelope_stream")


def test_stream_stream_interval_join_twin(spark, harness):
    """LIVE stream-stream join: two watermarked branches of the micro-batch
    file stream, inner-joined on user + 30-min interval, append mode.
    Must equal the batch twin exactly — including pairs whose view and
    click arrive in different micro-batches (the buffered-state case the
    in_order harness exercises, since chunks split by event_id while the
    interval spans arbitrary event_ids)."""
    from lambdatotheslaughter_spark.operators.streaming_twins import (
        interval_pair_join, stream_interval_join)

    def xform(s):
        views = s.where(F.col("event_type") == "view").withWatermark("ts", "1 hour")
        clicks = s.where(F.col("event_type") == "click").withWatermark("ts", "1 hour")
        return interval_pair_join(views, clicks)

    live = harness.run(xform, output_mode="append")
    batch = stream_interval_join(spark, SMOKE_SF_DIR)
    cols = ["view_id", "click_id", "user_id", "delay_us"]
    assert sorted(map(tuple, live.select(cols).collect())) == \
        sorted(map(tuple, batch.select(cols).collect()))


def test_stream_stream_interval_join_outer_twin(spark, harness):
    """LIVE LEFT OUTER stream-stream join: matches emit on arrival; a
    view's NULL row is negative information, emitted only once the
    watermark proves no in-window click can still arrive. So the live
    result must be (a) exactly the twin's matched pairs, plus (b) a
    subset of the twin's null rows — and every twin null row whose
    no-match verdict became provable before shutdown (view_ts + 30 min
    < final watermark) MUST be present; later views legitimately stay
    buffered in state when the stream pauses."""
    from lambdatotheslaughter_spark.operators.streaming_twins import (
        interval_pair_join, stream_interval_join_outer)

    def xform(s):
        views = s.where(F.col("event_type") == "view").withWatermark("ts", "1 hour")
        clicks = s.where(F.col("event_type") == "click").withWatermark("ts", "1 hour")
        return interval_pair_join(views, clicks, how="left_outer")

    live = harness.run(xform, output_mode="append").toPandas()
    wm = harness.last_query.lastProgress["eventTime"].get("watermark")
    assert wm, "no watermark in final progress"
    wm_ts = pd.Timestamp(wm.replace("T", " ").replace("Z", ""))

    batch = stream_interval_join_outer(spark, SMOKE_SF_DIR).toPandas()
    cols = ["view_id", "click_id", "user_id", "delay_us"]
    def key(df):
        return sorted(tuple(-1 if pd.isna(x) else int(x) for x in row)
                      for row in df[cols].itertuples(index=False, name=None))

    # (a) matched pairs: exact
    assert key(live[live.click_id.notna()]) == key(batch[batch.click_id.notna()])
    # (b) null rows: live ⊆ twin, and all provably-evictable twin nulls present
    live_null = set(live[live.click_id.isna()].view_id)
    twin_null = batch[batch.click_id.isna()]
    assert live_null <= set(twin_null.view_id)
    ev = load_table(spark, "events", SMOKE_SF_DIR).toPandas()
    ts_by_id = dict(zip(ev.event_id, ev.ts))
    evictable = {v for v in twin_null.view_id
                 if ts_by_id[v] + pd.Timedelta(minutes=30) < wm_ts}
    missing = evictable - live_null
    assert not missing, f"evictable null rows never emitted: {sorted(missing)[:5]}"
    assert len(live_null) > 0, "no null rows emitted at all"


def test_checkpoint_recovery_exactly_once(spark):
    """Crash-recovery for the speed layer: run a stateful streaming
    aggregation over part of the input, STOP the query (the crash analog),
    make more input arrive while it is down, then restart a brand-new query
    from the SAME checkpoint. The restart must (a) recover the aggregation
    state and offsets from the checkpoint — not reprocess the already-
    committed micro-batches — and (b) converge to exactly the batch twin
    over the full input. This is the lambda-genre behavior no other test
    covers: exactly-once across a process boundary.

    The first run writes its checkpoint at a state partition count other
    than the machine's (as a checkpoint from an older build would); the
    restart goes through ``drain`` and must keep the recorded count."""
    import uuid

    h = EventStreamHarness(spark, SMOKE_SF_DIR, n_chunks=4)
    hold_dir = tempfile.mkdtemp(prefix="lts_heldback_")
    recorded = spark.sparkContext.defaultParallelism + 1
    batch_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        files = sorted(f for f in os.listdir(h.input_dir)
                       if f.endswith(".parquet"))
        assert len(files) == 4
        # phase 1 sees only the first two chunks
        for f in files[2:]:
            shutil.move(os.path.join(h.input_dir, f),
                        os.path.join(hold_dir, f))

        def writer(name):
            return (tw.tumbling_agg(h.source())
                    .writeStream.outputMode("complete")
                    .format("memory").queryName(name))

        with checkpoint_dir(spark, "lts_recov") as ckpt:
            spark.conf.set("spark.sql.shuffle.partitions", str(recorded))
            try:
                q1 = (writer(f"lts_recov1_{uuid.uuid4().hex[:6]}")
                      .option("checkpointLocation", ckpt)
                      .trigger(availableNow=True).start())
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", batch_partitions)
            assert q1.awaitTermination(timeout=300)  # drains chunks 0-1, then "crashes"

            # the held-back chunks arrive while the query is down
            for f in files[2:]:
                shutil.move(os.path.join(hold_dir, f),
                            os.path.join(h.input_dir, f))

            name2 = f"lts_recov2_{uuid.uuid4().hex[:6]}"
            q2 = drain(spark, writer(name2), ckpt)

        # exactly-once convergence: restarted query's final complete-mode
        # emission equals the oracled batch twin over ALL events
        _assert_same(spark.table(name2),
                     tw.stream_tumbling_agg(spark, SMOKE_SF_DIR),
                     "checkpoint_recovery")

        # the state partition count is the checkpoint's, not the machine's
        assert {o["numShufflePartitions"]
                for o in q2.lastProgress["stateOperators"]} == {recorded}

        # no reprocessing: the restart must resume from recorded offsets,
        # reading only the two new chunks (not the whole topic again)
        p2_rows = sum(int(p.numInputRows) for p in q2.recentProgress)
        total = load_table(spark, "events", SMOKE_SF_DIR).count()
        assert 0 < p2_rows < total, (
            f"restart read {p2_rows} of {total} rows — offsets were not "
            "recovered from the checkpoint")
    finally:
        h.cleanup()
        shutil.rmtree(hold_dir, ignore_errors=True)


def test_foreach_batch_upsert_survives_restart(spark):
    """Crash-recovery for the SERVING-TABLE path (the Kudu-upsert analog):
    drain half the chunks into the keyed serving table via foreachBatch
    and crash the query in its second batch, after that batch's merge
    swapped the table in but before the batch committed; land the rest,
    restart from the same checkpoint. The crashed drain must raise, the
    restarted query must replay the uncommitted batch and resume from
    recorded offsets, and the serving table must converge to exactly the
    batch latest-per-user view — the end-to-end exactly-once property a
    lambda serving layer promises (idempotent merge + offset tracking, not
    just stream-side state recovery)."""
    import uuid

    from pyspark.errors import StreamingQueryException

    h = EventStreamHarness(spark, SMOKE_SF_DIR, n_chunks=4)
    hold_dir = tempfile.mkdtemp(prefix="lts_heldback_fb_")
    serving = os.path.join(tempfile.gettempdir(),
                           f"lts_serving_recov_{uuid.uuid4().hex[:8]}")
    merge = upsert_foreach_batch(serving)

    def merge_then_crash(batch_df, batch_id):
        merge(batch_df, batch_id)
        if batch_id == 1:
            raise RuntimeError("crash after the swap, before the commit")

    try:
        files = sorted(f for f in os.listdir(h.input_dir)
                       if f.endswith(".parquet"))
        for f in files[2:]:
            shutil.move(os.path.join(h.input_dir, f),
                        os.path.join(hold_dir, f))

        def writer(fn):
            return h.source().writeStream.outputMode("append").foreachBatch(fn)

        with checkpoint_dir(spark, "lts_fbrecov") as ckpt:
            with pytest.raises(StreamingQueryException):
                drain(spark, writer(merge_then_crash), ckpt)
            for f in files[2:]:
                shutil.move(os.path.join(hold_dir, f),
                            os.path.join(h.input_dir, f))
            q2 = drain(spark, writer(merge), ckpt)

        got = spark.read.parquet(serving).select("user_id", "event_id", "ts")
        want = latest_per_user(load_table(spark, "events", SMOKE_SF_DIR)) \
            .select("user_id", "event_id", "ts")
        _assert_same(got, want, "foreach_batch_restart")
        # the last merge kept its own version and the one it replaced
        assert len(os.listdir(serving + ".versions")) == 2

        p2_rows = sum(int(p.numInputRows) for p in q2.recentProgress)
        total = load_table(spark, "events", SMOKE_SF_DIR).count()
        assert 0 < p2_rows < total, (
            f"restart read {p2_rows} of {total} rows — offsets not recovered")
    finally:
        h.cleanup()
        shutil.rmtree(hold_dir, ignore_errors=True)
        drop_serving(serving)


def test_scd2_incremental_foreachbatch_converges(spark, harness):
    """The lambda-architecture claim in scd2_dimension_merge's docstring,
    run for real: a foreachBatch speed layer maintains the SCD2 dimension
    INCREMENTALLY — per micro-batch it touches only the affected keys'
    open ranges plus the new observations (closed history rows are
    immutable and pass through) — and after draining four in-order
    micro-batches the maintained dimension must equal the batch rebuild
    over the full feed, row for row.

    Feed = events as (user_id, event_type) observations ordered by
    event_id (the harness's in-order chunks are event_id-ranged, so
    arrival order == feed order, the Kafka-ordered-topic premise of
    incremental SCD2)."""
    from lambdatotheslaughter_spark.operators.sql import scd2_collapse

    base = os.path.join(tempfile.gettempdir(),
                        f"lts_scd2_{os.getpid()}_{id(spark) % 10**6}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    state = {"path": None}

    def merge(batch_df, batch_id):
        feed = batch_df.select("user_id", "event_type", "event_id")
        if state["path"] is None:
            out = scd2_collapse(feed, "user_id", "event_type",
                                ["event_id"], "event_id")
        else:
            stored = spark.read.parquet(state["path"])
            keys = feed.select("user_id").distinct()
            closed = stored.where(~F.col("is_current"))
            cur = stored.where(F.col("is_current"))
            cur_untouched = cur.join(keys, "user_id", "left_anti")
            cur_affected = cur.join(keys, "user_id", "left_semi")
            # re-feed each affected open range as an observation at its
            # own start, remember its version offset
            reopened = cur_affected.select(
                "user_id", "event_type",
                F.col("event_id"),
                (F.col("version") - 1).alias("voff"))
            obs = (reopened.select("user_id", "event_type", "event_id")
                   .unionByName(feed))
            rerun = scd2_collapse(obs, "user_id", "event_type",
                                  ["event_id"], "event_id")
            voffs = reopened.select("user_id", "voff")
            stitched = (rerun.join(voffs, "user_id", "left")
                        .withColumn("version",
                                    F.col("version")
                                    + F.coalesce(F.col("voff"), F.lit(0)))
                        .drop("voff"))
            out = closed.unionByName(cur_untouched).unionByName(stitched)
        new_path = os.path.join(base, f"v{batch_id}")
        out.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    harness.run(lambda df: df, output_mode="append", foreach_batch=merge)
    maintained = spark.read.parquet(state["path"])
    ev = load_table(spark, "events", SMOKE_SF_DIR)
    reference = scd2_collapse(
        ev.select("user_id", "event_type", "event_id"),
        "user_id", "event_type", ["event_id"], "event_id")
    _assert_same(maintained, reference, "scd2_incremental")
    shutil.rmtree(base, ignore_errors=True)


def test_topk_per_window_twin(spark, harness):
    """Counts maintained by the STREAM (complete mode), rank applied to the
    sink table — must equal the batch twin exactly. This pins the lambda
    split in stream_topk_per_window: incremental half in-stream,
    non-incremental rank at serving time."""
    counts = harness.run(tw.windowed_counts, output_mode="complete")
    _assert_same(
        tw.topk_per_window(counts),
        tw.topk_per_window(
            tw.windowed_counts(load_table(spark, "events", SMOKE_SF_DIR))),
        "topk_per_window")


def test_session_window_dynamic_gap_twin(spark, harness):
    """Live micro-batch run of the PER-EVENT-gap sessionization must equal
    its batch twin — the dynamic gap exercises session-merge logic the
    constant-gap test can't (merging decisions depend on each buffered
    event's own horizon, so state merges across micro-batches are
    gap-heterogeneous)."""
    out = harness.run(tw.dynamic_gap_session_agg, output_mode="complete")
    _assert_same(out,
                 tw.dynamic_gap_session_agg(
                     load_table(spark, "events", SMOKE_SF_DIR)),
                 "session_window_dynamic_gap")


def test_timer_based_sessionizer_converges(spark, harness):
    """State-store TIMERS — the one stateful-streaming feature no other
    test touches: a hand-rolled sessionizer in applyInPandasWithState
    with EventTimeTimeout. State holds the user's OPEN sessions (packed
    arrays); each invocation merges new events, splits on the 30-min
    gap, and closes exactly the sessions whose end + gap the current
    WATERMARK has passed (anything older arrives as droppable late
    data, so no event can extend them); the event-time timer re-arms on
    the earliest open end so silent users still close via the timeout
    path. Sessions provably closable before the last batch's watermark
    must all be emitted and match the session_window twin row-for-row;
    later sessions legitimately remain buffered at shutdown."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    GAP_MS = 30 * 60 * 1000

    def sessionize(s):
        def fn(key, pdf_iter, state):
            wm = state.getCurrentWatermarkMs()
            sessions = []
            if state.exists:
                starts, ends, ns = state.get
                sessions = list(zip(starts, ends, ns))
            ts_ms = []
            for pdf in pdf_iter:
                ts_ms.extend(int(t.value // 1_000_000)
                             for t in pd.to_datetime(pdf["ts"]))
            for t in sorted(ts_ms):
                # <= : session_window COALESCES touching windows — an
                # event landing exactly at prev_end + gap MERGES into the
                # session (verified empirically in the boundary-tie
                # fixture below; a strict < here splits it and diverges)
                if sessions and t <= sessions[-1][1] + GAP_MS:
                    st, en, n = sessions[-1]
                    sessions[-1] = (st, max(en, t), n + 1)
                else:
                    sessions.append((t, t, 1))
            sessions.sort()
            closed = [x for x in sessions if x[1] + GAP_MS <= wm]
            open_ = [x for x in sessions if x[1] + GAP_MS > wm]
            if open_:
                state.update(([x[0] for x in open_], [x[1] for x in open_],
                              [x[2] for x in open_]))
                state.setTimeoutTimestamp(open_[0][1] + GAP_MS)
            elif state.exists:
                state.remove()
            yield pd.DataFrame({
                "user_id": [key[0]] * len(closed),
                "session_start_ms": [x[0] for x in closed],
                "session_end_ms": [x[1] + GAP_MS for x in closed],
                "n_events": [x[2] for x in closed]}).astype(
                {"user_id": "int64", "session_start_ms": "int64",
                 "session_end_ms": "int64", "n_events": "int64"})

        return (s.withWatermark("ts", "1 hour")
                .groupBy("user_id")
                .applyInPandasWithState(
                    fn,
                    outputStructType=("user_id bigint, session_start_ms bigint, "
                                      "session_end_ms bigint, n_events bigint"),
                    stateStructType=("starts array<bigint>, ends array<bigint>, "
                                     "ns array<bigint>"),
                    outputMode="append",
                    timeoutConf=GroupStateTimeout.EventTimeTimeout))

    live = harness.run(sessionize, output_mode="append").toPandas()
    prog = harness.last_query.recentProgress
    wms = [p["eventTime"].get("watermark") for p in prog
           if p.get("eventTime", {}).get("watermark")]
    assert wms, "no watermark in progress"

    def to_ms(w):
        return int(pd.Timestamp(w.replace("T", " ").replace("Z", "")).value
                   // 1_000_000)

    wm_final = to_ms(wms[-1])
    wm_prev = to_ms(wms[-2]) if len(wms) > 1 else 0

    twin = tw.session_window_agg(
        load_table(spark, "events", SMOKE_SF_DIR)).toPandas()
    twin["start_ms"] = pd.to_datetime(twin.session_start).astype("int64") // 1_000_000
    twin["end_ms"] = pd.to_datetime(twin.session_end).astype("int64") // 1_000_000

    def rows(df, cols):
        return set(map(tuple, df[cols].astype("int64")
                       .itertuples(index=False, name=None)))

    got = rows(live, ["user_id", "session_start_ms", "session_end_ms",
                      "n_events"])
    twin_all = rows(twin, ["user_id", "start_ms", "end_ms", "n_events"])
    must_close = rows(twin[twin.end_ms <= wm_prev],
                      ["user_id", "start_ms", "end_ms", "n_events"])
    assert got <= twin_all, f"spurious sessions: {sorted(got - twin_all)[:3]}"
    assert len(must_close) > 0, "no provably-closable sessions — harness broken"
    missing = must_close - got
    assert not missing, f"closable sessions never emitted: {sorted(missing)[:3]}"


def test_session_boundary_tie_merges(spark):
    """Pin Spark's session tie semantics EMPIRICALLY: an event landing
    exactly at session_end + gap MERGES into the session, because
    session_window coalesces touching windows (intervals [a, b) and
    [b, c) union). This was discovered by this fixture — the r4 code
    shipped the opposite strict-< rule and no real event ever landed on
    an exact microsecond boundary to expose it. The fixture goes RED
    under a strict-< fold (splits the boundary event into its own
    session) and RED under a `>=`-new-session SQL oracle, pinning both
    the Python sessionizers and the DuckDB oracles to Spark forever."""
    GAP_MS = 30 * 60 * 1000
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    ts = [t0, t0 + pd.Timedelta(minutes=10),
          # exactly prev-session end (10 min) + the 30-min gap
          t0 + pd.Timedelta(minutes=40)]
    df = spark.createDataFrame(pd.DataFrame({"user_id": [1, 1, 1], "ts": ts}))
    sess = (df.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                       "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("user_id", F.col("w.start").alias("s"),
                    F.col("w.end").alias("e"), "n")
            .orderBy("s").collect())
    # ground truth: ONE session — the boundary event merges
    assert len(sess) == 1, f"session_window gave {len(sess)} sessions"
    assert sess[0]["n"] == 3
    # end = boundary event + gap = 0:40 + 30 min = 1:10
    assert sess[0]["e"] == (t0 + pd.Timedelta(minutes=70)).to_pydatetime()

    def fold(ts_ms, merges):
        sessions = []
        for t in sorted(ts_ms):
            if sessions and merges(t, sessions[-1][1] + GAP_MS):
                st, en, n = sessions[-1]
                sessions[-1] = (st, max(en, t), n + 1)
            else:
                sessions.append((t, t, 1))
        return sessions

    ms = [int(t.value // 1_000_000) for t in ts]
    shipped = fold(ms, lambda a, end: a <= end)  # merge-on-tie (correct)
    strict = fold(ms, lambda a, end: a < end)    # the r4 bug
    assert len(shipped) == 1, "<= fold must match session_window"
    assert len(strict) == 2, "fixture not discriminating: < should split"
    assert shipped[0] == (ms[0], ms[2], 3)

    # the _SESSION_ORACLE formulation must agree on the tie too: run the
    # same lag+cumsum SQL over this 3-row fixture in DuckDB
    import duckdb as _dd
    con = _dd.connect()
    con.register("events", pd.DataFrame({"user_id": [1, 1, 1], "ts": ts}))
    oracle_rows = con.execute(tw._SESSION_ORACLE).df()
    assert len(oracle_rows) == 1, \
        f"oracle splits the boundary tie: {oracle_rows}"
    assert int(oracle_rows.n_events.iloc[0]) == 3
    con.close()


@pytest.mark.skipif(not tw.tws_available(), reason=(
    "transformWithStateInPandas needs google.protobuf (the TWS "
    "state-server protocol); broken and uninstallable in this sandbox — "
    "verified rounds 4a/4b, see SCALE.md streaming section. Test goes "
    "live automatically when the environment gains protobuf."))
def test_stream_stateful_tws_matches_apply_in_pandas(spark):
    """The Spark-4 arbitrary-state API v2 port (stream_stateful_tws) must
    emit exactly the per-user (total_value, n_events) rows its
    applyInPandasWithState sibling produces — same source, same state
    semantics, different state backend."""
    tws = canonical_rows(tw.stream_stateful_tws(spark, SMOKE_SF_DIR))
    aip = canonical_rows(tw.stream_stateful_state_op(spark, SMOKE_SF_DIR))
    assert tws == aip


def test_chained_window_agg_twin(spark, harness):
    """Spark-4 multi-stateful chaining: hourly window agg re-windowed
    into a daily rollup inside ONE streaming query (append mode +
    watermark). Twin contract: the stream emits exactly the batch
    twin's rows for every CLOSED day; the final day stays in state
    because AvailableNow ends before the watermark passes its end —
    that withheld-tail is the append-mode semantic, not a bug, so the
    assertion is emitted == batch \\ {max day} and nothing extra."""
    from lambdatotheslaughter_spark.operators.streaming_twins import (
        chained_window_agg,
    )
    out = harness.run(
        lambda s: chained_window_agg(s.withWatermark("ts", "10 minutes")),
        output_mode="append")
    batch = chained_window_agg(load_table(spark, "events", SMOKE_SF_DIR))
    so = sorted(tuple(r) for r in out.collect())
    sb = sorted(tuple(r) for r in batch.collect())
    max_day = max(r[0] for r in sb)
    closed = [r for r in sb if r[0] < max_day]
    assert [r for r in so if r not in sb] == [], "stream emitted rows absent from batch"
    assert sorted(closed) == sorted(r for r in so if r[0] < max_day), \
        "closed-day rows differ between stream and batch twin"
    assert len(so) >= len(closed), (len(so), len(closed))


def test_drift_bucket_counts_twin(spark, harness):
    out = harness.run(tw.drift_bucket_counts, output_mode="complete")
    _assert_same(out,
                 tw.drift_bucket_counts(
                     load_table(spark, "events", SMOKE_SF_DIR)),
                 "drift_bucket_counts")


def test_sprt_monitor_twin(spark, harness):
    out = harness.run(tw.sprt_daily_counts, output_mode="complete")
    _assert_same(out,
                 tw.sprt_daily_counts(
                     load_table(spark, "events", SMOKE_SF_DIR)),
                 "sprt_daily_counts")


def test_changepoint_monitor_twin(spark, harness):
    out = harness.run(tw.changepoint_daily_revenue, output_mode="complete")
    _assert_same(out,
                 tw.changepoint_daily_revenue(
                     load_table(spark, "events", SMOKE_SF_DIR)),
                 "changepoint_daily_revenue")
