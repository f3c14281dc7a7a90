"""The workloads, driven through the engine's public functions.

Each workload returns a ``Result``: per-operation samples for the
end-to-end metrics, the count of operations attempted and failed, and the
per-layer numbers the tracer collected. An operation fails when it raises
or when its output differs from the expected digest; outputs are checked
outside the timed region.
"""

from __future__ import annotations

import json
import os
import random
import re
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from check import digest
from tracing import Tracer, median, quantile

SERVING_KEYS = (
    "agg_pricing_summary", "topk_global", "join_multiway_star",
    "win_topk_per_group", "agg_distinct", "join_asof_event_order",
    "join_bucketed_colocated", "scd2_dimension_merge", "ts_mom_growth",
    "stream_tumbling_agg", "stream_session_window",
    "dq_cross_field_consistency",
)

# speed layer: backlog size and the number of micro-batch files it is
# staged as (one file per micro-batch)
STREAM_EVENTS = 20_000
STREAM_CHUNKS = 5

EXEC_COUNTERS = {
    "input_bytes": "tables.input_bytes", "input_rows": "tables.input_rows",
    "shuffle_bytes": "operators.shuffle_bytes",
    "shuffle_records": "operators.shuffle_records",
    "broadcast_bytes": "operators.broadcast_bytes",
}


class Checker:
    """Compares results with their expected digests."""

    def __init__(self, expected: dict):
        self.expected = expected

    def mismatch(self, name: str, columns: list[str], rows: list) -> str | None:
        """None if the result is correct, else what differs."""
        got = digest(columns, rows)
        if got != self.expected.get(name):
            return f"{got} != expected {self.expected.get(name)}"
        return None


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)
    busy_s: float = 0.0
    records: int = 0
    attempted: int = 0
    failed: int = 0
    rebuild_s: float = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr, flush=True)


def schedule(keys: tuple[str, ...], seed: int) -> list[str]:
    """Request order of one round: a seeded permutation of ``keys``. Every
    round holds each key once, so the seed changes order, never the mix."""
    order = list(keys)
    random.Random(seed).shuffle(order)
    return order


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def file_stamps(path: str) -> dict[str, tuple[int, int]]:
    """``(mtime_ns, size)`` of every file under ``path``, by file path."""
    stamps = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            stamps[os.path.join(root, f)] = (st.st_mtime_ns, st.st_size)
    return stamps


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return jobs, stages, tasks


def run_request(spark, fn: Callable, name: str, sf_dir: str, req_id: str,
                tracer: Tracer, checker: Checker | None, res: Result) -> float | None:
    """One closed-loop request: the query-builder call plus the collect. Returns
    its latency, or None if it raised or returned a wrong result. Without a
    checker only a raise counts as a failure."""
    from lambdatotheslaughter_spark.plans.checks import execution_metrics

    sc = spark.sparkContext
    if tracer.enabled:
        sc.setJobGroup(req_id, name)
    res.attempted += 1
    try:
        t0 = time.perf_counter()
        with tracer.span("request", req_id):
            with tracer.span("operators.build", req_id):
                df = fn(spark, sf_dir)
            with tracer.span("operators.collect", req_id):
                rows = df.collect()
        latency = time.perf_counter() - t0
    except Exception:
        traceback.print_exc()
        res.fail(f"{name}: raised")
        return None
    wrong = checker and checker.mismatch(name, df.columns, rows)
    if wrong:
        res.fail(f"{name}: result {wrong}")
        return None
    res.records += len(rows)
    if tracer.enabled:
        jobs, stages, tasks = _job_counts(sc, req_id)
        tracer.sample("operators.jobs_per_request", jobs)
        tracer.sample("operators.stages_per_request", stages)
        tracer.sample("operators.tasks_per_request", tasks)
        for k, v in execution_metrics(df).items():
            if k in EXEC_COUNTERS:
                tracer.sample(EXEC_COUNTERS[k], v)
        tracer.sample(f"key.{name}.latency_s", latency)
    return latency


def query_workload(spark, keys: tuple[str, ...], sf_dir: str, seed: int,
                   seconds: float, tracer: Tracer, checker: Checker,
                   resolve: Callable[[str], Callable]) -> Result:
    """One warm-up round, then whole seeded rounds until ``seconds`` of
    request time have passed. Warm-up results are not checked, to keep the
    run short: every key's result is checked in each measured round."""
    res = Result()
    warm = Result()
    for i, name in enumerate(schedule(keys, seed)):
        run_request(spark, resolve(name), name, sf_dir, f"warm-{i}",
                    Tracer(False), None, warm)
    res.attempted, res.failed = warm.attempted, warm.failed
    rnd = 0
    while res.busy_s < seconds:
        for i, name in enumerate(schedule(keys, seed + 1 + rnd)):
            lat = run_request(spark, resolve(name), name, sf_dir,
                              f"r{rnd}-{i}", tracer, checker, res)
            if lat is not None:
                res.latencies.append(lat)
                res.busy_s += lat
        rnd += 1
        if res.failed and not res.latencies:
            break
    return res


# ---------------------------------------------------------------------------
# speed layer


def _progress(query) -> list[dict]:
    return [p for p in (json_obj(x) for x in query.recentProgress)
            if p.get("numInputRows", 0) > 0]


def json_obj(progress) -> dict:
    return progress if isinstance(progress, dict) else json.loads(progress.json)


def _trace_progress(tracer: Tracer, batches: list[dict]) -> None:
    for p in batches:
        d = p["durationMs"]
        tracer.count("streaming.batches")
        tracer.count("streaming.input_rows", p["numInputRows"])
        tracer.sample("streaming.batch_s", d.get("triggerExecution", 0) / 1e3)
        tracer.sample("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
        tracer.sample("streaming.planning_s", d.get("queryPlanning", 0) / 1e3)
        tracer.sample("streaming.commit_s",
                      (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
        for op in p.get("stateOperators", []):
            tracer.count("streaming.state_commit_s", op.get("commitTimeMs", 0) / 1e3)
            tracer.count("streaming.late_rows_dropped",
                         op.get("numRowsDroppedByWatermark", 0))
    last_ops = batches[-1].get("stateOperators", []) if batches else []
    tracer.count("streaming.state_rows", sum(o.get("numRowsTotal", 0) for o in last_ops))
    tracer.count("streaming.state_bytes", sum(o.get("memoryUsedBytes", 0) for o in last_ops))


def speed_layer_workload(spark, master_dir: str, run_dir: str, seed: int,
                         seconds: float, tracer: Tracer) -> Result:
    """Stage a seeded backlog, then drain it until ``seconds`` of measured
    micro-batch time have passed. A drain runs the envelope → dedup →
    upsert query, then the stateful tumbling-window query, each from a fresh
    checkpoint and serving table. The first micro-batch file warms both
    queries up: it is checked with the rest but not measured."""
    import datagen
    from lambdatotheslaughter_spark.operators.streaming_twins import tumbling_agg
    from lambdatotheslaughter_spark.sources.kafka import parse_envelope, to_envelope
    from lambdatotheslaughter_spark.streaming.harness import (
        EventStreamHarness, latest_per_user, upsert_foreach_batch)
    from lambdatotheslaughter_spark.tables import load_table

    res = Result()
    gen_dir = os.path.join(run_dir, "stream")
    stream = datagen.stream_events(master_dir, gen_dir, seed, STREAM_EVENTS)
    n_distinct = len(set(stream.column("event_id").to_pylist()))
    with tracer.span("streaming.stage"):
        harness = EventStreamHarness(spark, gen_dir, n_chunks=STREAM_CHUNKS)
    input_bytes = dir_bytes(harness.input_dir)

    def ingest(s):
        parsed = parse_envelope(to_envelope(s))
        return (parsed.withColumnRenamed("prop_k", "event_id")
                .withWatermark("ts", datagen.WATERMARK_DELAY)
                .dropDuplicatesWithinWatermark(["event_id"]))

    def windows(s):
        return tumbling_agg(s.withWatermark("ts", datagen.WATERMARK_DELAY))

    events = load_table(spark, "events", gen_dir)
    cols = ["user_id", "event_id", "ts", "event_type", "value"]
    want_serving = digest(cols, latest_per_user(events).select(*cols).collect())
    twin = tumbling_agg(events)
    want_windows = digest(twin.columns, twin.collect())

    def drain(n: int) -> bool:
        """Drain the backlog through both queries; False if a drain raised."""
        serving = os.path.join(run_dir, f"serving-{n}")
        merge = upsert_foreach_batch(serving)

        def timed_merge(batch_df, batch_id):
            before = file_stamps(serving) if tracer.enabled else {}
            with tracer.span("streaming.upsert"):
                merge(batch_df, batch_id)
            if tracer.enabled:
                # bytes of the files this batch created or rewrote
                tracer.count("streaming.upsert_bytes_written", sum(
                    size for f, (mtime, size) in file_stamps(serving).items()
                    if before.get(f) != (mtime, size)))

        res.attempted += 2
        try:
            with tracer.span("streaming.run"):
                harness.run(ingest, output_mode="append", foreach_batch=timed_merge)
            q_ingest = harness.last_query
            with tracer.span("streaming.run"):
                out = harness.run(windows, output_mode="complete")
            q_windows = harness.last_query
        except Exception:
            traceback.print_exc()
            res.fail("speed layer drain raised")
            return False
        # one micro-batch file is one batch in each query; its latency is
        # the commit time of both. The first file warms both queries up.
        measured = list(zip(_progress(q_ingest)[1:], _progress(q_windows)[1:]))
        latencies = [(a["durationMs"]["triggerExecution"]
                      + b["durationMs"]["triggerExecution"]) / 1e3 for a, b in measured]
        res.latencies += latencies
        res.busy_s += sum(latencies)
        res.records += sum(a["numInputRows"] for a, _ in measured)
        _trace_progress(tracer, [p for pair in measured for p in pair])
        tracer.count("streaming.input_bytes", input_bytes)

        # outputs, checked outside the measured time
        got = digest(cols, spark.read.parquet(serving).select(*cols).collect())
        deduped = sum(o.get("numRowsUpdated", 0) for p in _progress(q_ingest)
                      for o in p.get("stateOperators", []))
        if got != want_serving:
            res.fail(f"serving table {got} != latest_per_user {want_serving}")
        elif deduped != n_distinct:
            res.fail(f"dedup kept {deduped} rows, {n_distinct} distinct ids")
        got = digest(out.columns, out.collect())
        if got != want_windows:
            res.fail(f"window output {got} != batch twin {want_windows}")
        return True

    try:
        n = 0
        while res.busy_s < seconds and drain(n):
            n += 1
    finally:
        harness.cleanup()
    return res


# ---------------------------------------------------------------------------
# batch layer


def rebuild(spark, master_dir: str, tracer: Tracer, checker: Checker, res: Result) -> None:
    """Time ``rebuild_views`` over the master dataset, then check every
    rebuilt view table against its expected digest."""
    from lambdatotheslaughter_spark.plans.rebuild import DEFAULT_VIEWS, rebuild_views

    res.attempted += 1
    try:
        t0 = time.perf_counter()
        with tracer.span("plans.rebuild"):
            per_view = rebuild_views(spark, master_dir)
        res.rebuild_s = time.perf_counter() - t0
    except Exception:
        traceback.print_exc()
        res.fail("rebuild_views raised")
        return
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for view in DEFAULT_VIEWS:
        table = f"lts_view_{re.sub(r'[^a-z0-9_]', '_', view)}"
        df = spark.table(table)
        wrong = checker.mismatch(view, df.columns, df.collect())
        if wrong:
            res.fail(f"rebuilt {table} {wrong}")
        if tracer.enabled:
            tracer.count(f"plans.rebuild.{view}_s", per_view[view])
            tracer.count("plans.rebuild.bytes_written",
                         dir_bytes(os.path.join(warehouse, table)))


def end_to_end(res: Result, setup_s: float) -> dict[str, float]:
    busy = res.busy_s or float("nan")
    return {
        "setup_s": setup_s,
        "latency_p50_s": quantile(res.latencies, 0.5),
        "latency_p90_s": quantile(res.latencies, 0.9),
        "throughput_rps": len(res.latencies) / busy,
        "events_per_s": res.records / busy,
        "rebuild_s": res.rebuild_s,
    }


def per_layer(tracer: Tracer, extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metric values from the traced run. A layer the workload
    never calls reads 0."""
    s = tracer.samples
    c = tracer.counters
    m = dict(extra)
    m["operators.build_s"] = median(tracer.durations("operators.build"))
    m["operators.collect_s"] = median(tracer.durations("operators.collect"))
    for name in ("operators.jobs_per_request", "operators.stages_per_request",
                 "operators.tasks_per_request", *EXEC_COUNTERS.values()):
        vals = s.get(name, [])
        m[name] = sum(vals) / len(vals) if vals else 0.0
    for key in SERVING_KEYS:
        m[f"key.{key}.p50_s"] = median(s.get(f"key.{key}.latency_s", []))
    m["streaming.stage_s"] = sum(tracer.durations("streaming.stage"))
    m["streaming.batches"] = c.get("streaming.batches", 0.0)
    m["streaming.input_rows"] = c.get("streaming.input_rows", 0.0)
    m["streaming.batch_p50_s"] = quantile(s.get("streaming.batch_s", []), 0.5)
    m["streaming.batch_p90_s"] = quantile(s.get("streaming.batch_s", []), 0.9)
    for name in ("streaming.add_batch_s", "streaming.planning_s", "streaming.commit_s"):
        m[name] = median(s.get(name, []))
    for name in ("streaming.state_rows", "streaming.state_bytes",
                 "streaming.state_commit_s", "streaming.late_rows_dropped",
                 "streaming.upsert_bytes_written"):
        m[name] = c.get(name, 0.0)
    m["streaming.upsert_s"] = median(tracer.durations("streaming.upsert"))
    in_bytes = c.get("streaming.input_bytes", 0.0)
    m["streaming.write_amplification"] = (
        c.get("streaming.upsert_bytes_written", 0.0) / in_bytes if in_bytes else 0.0)
    from lambdatotheslaughter_spark.plans.rebuild import DEFAULT_VIEWS
    for view in DEFAULT_VIEWS:
        m[f"plans.rebuild.{view}_s"] = c.get(f"plans.rebuild.{view}_s", 0.0)
    m["plans.rebuild.bytes_written"] = c.get("plans.rebuild.bytes_written", 0.0)
    return m
