"""File-source micro-batch harness for the speed layer (SURVEY.md §2.9, §5).

No Kafka broker exists in this environment (and none is needed for
semantics): a directory of parquet chunk files consumed with
``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow`` IS a replayable topic —
each file is a micro-batch, arrival order is file order, and watermarks /
state / sinks behave exactly as they would behind a Kafka source. In
production only the source line changes to ``readStream.format("kafka")``.

Every streaming query the engine starts goes through ``drain``, which sizes
it to the machine: the batch layer keeps the session's 32 shuffle
partitions with AQE, while each streaming query shuffles into
``defaultParallelism`` partitions — one state-store partition per core for
a stateful query, fixed in its checkpoint from the first batch on, and as
many files per ``foreachBatch`` merge. Checkpoints live under the session's
``spark.sql.streaming.checkpointLocation`` root and are written through its
``spark.sql.streaming.checkpointFileManagerClass``; ``session.get_spark``
sets both.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from lambdatotheslaughter_spark.session import scoped_conf
from lambdatotheslaughter_spark.tables import (EVENTS_US_SCHEMA, load_table,
                                               sweep_versions)


@contextmanager
def checkpoint_dir(spark: SparkSession, name: str) -> Iterator[str]:
    """A fresh checkpoint directory under the session's streaming
    checkpoint root, removed on exit. Sessions built elsewhere may leave
    the root unset; their checkpoints go to the temp directory."""
    root = (spark.conf.get("spark.sql.streaming.checkpointLocation", None)
            or tempfile.gettempdir())
    path = os.path.join(root, f"{name}_{uuid.uuid4().hex[:8]}")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def drain(spark: SparkSession, writer: DataStreamWriter, checkpoint: str,
          start: Callable[[DataStreamWriter], StreamingQuery] = DataStreamWriter.start,
          timeout: float = 300) -> StreamingQuery:
    """Start the query ``writer`` describes from ``checkpoint`` with
    AvailableNow, wait until it has drained its input, and return it.

    The query is sized to the machine: ``spark.sql.shuffle.partitions`` is
    ``defaultParallelism`` while it starts. The query's cloned session
    captures that value, a stateful query records it in its checkpoint (a
    restart keeps the recorded count), and a ``foreachBatch`` function
    inherits it through ``batch_df.sparkSession``. The caller's session
    gets its own value back as soon as the query has started; batch work
    that another thread starts in the same session meanwhile would see the
    streaming count.

    A query that fails raises its ``StreamingQueryException``; one still
    running after ``timeout`` seconds is stopped and raises
    ``TimeoutError``, so a stalled drain never hands back partial output.
    """
    writer = writer.option("checkpointLocation", checkpoint).trigger(availableNow=True)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions":
                             str(spark.sparkContext.defaultParallelism)}):
        query = start(writer)
    if not query.awaitTermination(timeout):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} did not drain in {timeout} s")
    return query


def drain_to_memory(spark: SparkSession, stream: DataFrame, output_mode: str,
                    prefix: str) -> tuple[DataFrame, StreamingQuery]:
    """Drain ``stream`` into a memory sink named ``<prefix>_<random>`` and
    return the sink's rows with the drained query. The sink's temp view is
    dropped before this returns: the returned DataFrame has already resolved
    it, so every call leaves the session catalog as it found it."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    writer = stream.writeStream.outputMode(output_mode).format("memory").queryName(name)
    with checkpoint_dir(spark, name) as ckpt:
        query = drain(spark, writer, ckpt)
    rows = spark.table(name)
    spark.catalog.dropTempView(name)
    return rows, query


class EventStreamHarness:
    """Writes the events table as N ordered chunk files, exposes them as a
    rate-limited file stream, and runs a transform to a memory sink."""

    def __init__(self, spark: SparkSession, sf_dir: str, n_chunks: int = 4,
                 arrival: str = "in_order"):
        """arrival='in_order' chunks by event_id range (kafka-like ordered
        topic); 'interleaved' chunks by event_id % n (every chunk spans the
        full time range → later chunks deliver late data); 'replay' feeds
        the full stream twice (duplicate delivery)."""
        self.spark = spark
        self.input_dir = os.path.join(tempfile.gettempdir(),
                                      f"lts_stream_{uuid.uuid4().hex[:8]}")
        os.makedirs(self.input_dir)
        ev = load_table(spark, sf_dir=sf_dir, name="events")
        n_rows = ev.count()
        per = (n_rows + n_chunks - 1) // n_chunks
        if arrival == "replay":
            chunk_dfs = [ev, ev]
        elif arrival == "interleaved":
            chunk_dfs = [ev.where(F.col("event_id") % n_chunks == i)
                         for i in range(n_chunks)]
        else:
            chunk_dfs = [ev.where((F.col("event_id") >= i * per)
                                  & (F.col("event_id") < (i + 1) * per))
                         for i in range(n_chunks)]
        for i, cdf in enumerate(chunk_dfs):
            # one file per chunk => one micro-batch per chunk under
            # maxFilesPerTrigger=1 (file mtime order == chunk order)
            tmp = os.path.join(self.input_dir, f"_tmp{i}")
            cdf.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            os.rename(os.path.join(tmp, part),
                      os.path.join(self.input_dir, f"chunk-{i:04d}.parquet"))
            shutil.rmtree(tmp)

    def source(self) -> DataFrame:
        return (
            self.spark.readStream
            .schema(EVENTS_US_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.input_dir)
        )

    def run(self, transform, output_mode: str = "complete",
            foreach_batch=None) -> DataFrame:
        """Apply `transform` to the stream, drain it with AvailableNow
        (honors maxFilesPerTrigger → true multi-micro-batch execution),
        return the memory-sink rows, or None with ``foreach_batch``.
        ``last_query`` is the drained query, for callers that need its
        progress telemetry (e.g. the final event-time watermark, which
        decides which outer-join null rows were evictable before
        shutdown)."""
        stream = transform(self.source())
        if foreach_batch is None:
            rows, self.last_query = drain_to_memory(self.spark, stream,
                                                    output_mode, "lts_sink")
            return rows
        name = f"lts_sink_{uuid.uuid4().hex[:8]}"
        writer = stream.writeStream.outputMode(output_mode).foreachBatch(foreach_batch)
        with checkpoint_dir(self.spark, name) as ckpt:
            self.last_query = drain(self.spark, writer, ckpt)
        return None

    def cleanup(self) -> None:
        shutil.rmtree(self.input_dir, ignore_errors=True)


def latest_per_user(df: DataFrame) -> DataFrame:
    """Keyed-latest view: one row per user, newest ts wins, ties pinned by
    event_id desc (a bare ts ordering would pick an arbitrary row among
    same-timestamp events — nondeterministic under retry/replay). Shared
    by the foreachBatch merge and the oracled batch twin so the serving
    table and the lambda-architecture batch view cannot drift."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def _versions_dir(serving_path: str) -> str:
    return serving_path + ".versions"


def read_serving(spark: SparkSession, serving_path: str) -> DataFrame:
    """The serving table as of its current version. The link is resolved
    once, so a swap while the returned DataFrame is read does not move the
    files under it; a merge keeps the version it replaced until the next
    merge."""
    return spark.read.parquet(os.path.realpath(serving_path))


def drop_serving(serving_path: str) -> None:
    """Remove a serving table: its link and every version."""
    if os.path.lexists(serving_path):
        os.unlink(serving_path)
    shutil.rmtree(_versions_dir(serving_path), ignore_errors=True)


def upsert_foreach_batch(serving_path: str):
    """The Kudu-upsert analog (SURVEY §3 entry 2): each micro-batch is
    merged into a keyed parquet serving table, latest row per key wins.
    Idempotent per batch — replays overwrite with identical content.

    ``serving_path`` is a symlink to one version directory under
    ``<serving_path>.versions``. Each batch writes its merge to a new
    version, repoints the link with one atomic ``os.replace``, then
    deletes every entry but the new version and the one it replaced
    (``tables.sweep_versions``, the batch views' retention rule). A
    reader, or a crash at any point, finds a whole table: the old version
    or the new one. ``spark.read.parquet(serving_path)`` reads the current
    version; readers that run during merges use ``read_serving``."""
    versions = _versions_dir(serving_path)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df
        previous = os.path.realpath(serving_path)
        if os.path.exists(previous):
            # this merge is the table's only writer, so the previous
            # version has the batch's schema: no footer-inference job
            new = spark.read.schema(batch_df.schema).parquet(previous).unionByName(new)
        # unique per attempt: a replayed batch must not overwrite the
        # version it reads from
        version = f"b{batch_id:06d}-{uuid.uuid4().hex[:8]}"
        latest_per_user(new).write.parquet(os.path.join(versions, version))
        swap = serving_path + ".swap"
        if os.path.lexists(swap):
            os.unlink(swap)
        os.symlink(os.path.join(os.path.basename(versions), version), swap)
        os.replace(swap, serving_path)
        sweep_versions(versions, {version, os.path.basename(previous)})
    return _merge
