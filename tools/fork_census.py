"""Count the processes the driver JVM forks during one speed-layer drain.

Usage: python tools/fork_census.py --sf-dir DIR

Starts the engine's session with a JFR recording in the driver JVM
(``-XX:StartFlightRecording`` through ``PYSPARK_SUBMIT_ARGS``
``--driver-java-options``), stages the ``events`` table at DIR as
micro-batch files, and drains them through its own copy of the two queries
of perfbench's ``speed_layer_ingest``, each through
``streaming.harness.drain``: envelope → watermark dedup →
``upsert_foreach_batch`` into a fresh serving table, then the stateful
``tumbling_agg``. The file count and watermark delay are perfbench's
(``workloads.STREAM_CHUNKS``, ``datagen.WATERMARK_DELAY``); the events are
DIR's, not perfbench's seeded stream. It prints the ``jdk.ProcessStart`` events recorded during
the drain, counted by command, then by command, first Spark frame on the
stack that forked and the writer behind it (``-`` when the 256 innermost
frames hold none). Staging and session start-up are left out: the
recording is dumped before and after the drain and the first count is
subtracted from the second. Needs the JDK's ``jfr`` tool.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from datagen import WATERMARK_DELAY  # noqa: E402
from workloads import STREAM_CHUNKS  # noqa: E402


def forks(jvm, jfr_tool: str, path: str) -> Counter:
    """Dump the driver's recording to ``path`` and count its process starts
    by (command, first Spark frame, writer): the writer is the first Spark
    frame outside the checkpoint managers and the metadata log. It names the
    log written, or ``ChecksumCancellableFSDataOutputStream`` for a
    state-store file, whose checksummed stream a pool thread closes."""
    jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings().get(0) \
        .dump(jvm.java.io.File(path).toPath())
    out = subprocess.run([jfr_tool, "print", "--json", "--stack-depth", "256",
                          "--events", "jdk.ProcessStart", path],
                         check=True, capture_output=True, text=True).stdout
    counts = Counter()
    for ev in json.loads(out)["recording"]["events"]:
        frames = (ev["values"].get("stackTrace") or {}).get("frames", [])
        # JFR names a class with slashes and a lambda's hidden class with
        # dots, so the prefix test skips lambda frames
        spark = [f"{cls.replace('/', '.')}.{f['method']['name']}" for f in frames
                 for cls in [f["method"]["type"]["name"]]
                 if cls.startswith("org/apache/spark/")] or ["-"]
        writer = next((s for s in spark if "CheckpointFileManager" not in s
                       and ".HDFSMetadataLog." not in s), "-")
        counts[ev["values"]["command"].split()[0], spark[0], writer] += 1
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="lts_fork_census_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options '-XX:FlightRecorderOptions=stackdepth=256 "
        "-XX:StartFlightRecording=settings=default' pyspark-shell")

    from lambdatotheslaughter_spark.operators.streaming_twins import tumbling_agg
    from lambdatotheslaughter_spark.session import get_spark
    from lambdatotheslaughter_spark.sources.kafka import parse_envelope, to_envelope
    from lambdatotheslaughter_spark.streaming.harness import (
        EventStreamHarness, upsert_foreach_batch)

    spark = get_spark("fork_census")
    jvm = spark.sparkContext._jvm
    jfr_tool = os.path.join(jvm.System.getProperty("java.home"), "bin", "jfr")
    harness = EventStreamHarness(spark, args.sf_dir, n_chunks=STREAM_CHUNKS)
    try:
        def ingest(s):
            return (parse_envelope(to_envelope(s))
                    .withColumnRenamed("prop_k", "event_id")
                    .withWatermark("ts", WATERMARK_DELAY)
                    .dropDuplicatesWithinWatermark(["event_id"]))

        before = forks(jvm, jfr_tool, os.path.join(work, "before.jfr"))
        harness.run(ingest, output_mode="append",
                    foreach_batch=upsert_foreach_batch(os.path.join(work, "serving")))
        batches = len(harness.last_query.recentProgress)
        harness.run(lambda s: tumbling_agg(s.withWatermark("ts", WATERMARK_DELAY)))
        batches += len(harness.last_query.recentProgress)
        counts = forks(jvm, jfr_tool, os.path.join(work, "after.jfr")) - before
    finally:
        harness.cleanup()
        shutil.rmtree(work, ignore_errors=True)

    print(f"{sum(counts.values())} forks in one drain of {STREAM_CHUNKS} files "
          f"({batches} micro-batches over 2 queries)")
    by_command = Counter()
    for (command, _, _), n in counts.items():
        by_command[command] += n
    print("by command:")
    for command, n in by_command.most_common():
        print(f"{n:8d}  {command}")
    print("by command and first Spark frame (<- writer):")
    for (command, frame, writer), n in counts.most_common():
        print(f"{n:8d}  {command:10s} {frame} <- {writer}")


if __name__ == "__main__":
    main()
