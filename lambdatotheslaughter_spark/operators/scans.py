"""Scan / source / sink operators (SURVEY.md §2.1).

The batch layer of the lambda architecture: immutable parquet master data in,
serving views out (managed tables = the Hive/Kudu analog). Scan queries are
also the plan-shape canaries — tests/test_plans.py asserts projection and
predicate pushdown reach the parquet reader, which is what keeps a 100 TB
scan from reading 100 TB.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import (
    dsum, iround, oracle_dsum, round_cents)
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.session import scoped_conf
from lambdatotheslaughter_spark.tables import (drop_managed_table, load_table,
                                               save_managed_table)


def _source_fingerprint(sf_dir: str, table: str) -> str:
    """12-hex fingerprint of a source table's files (relative path, size,
    mtime_ns per file). Part of every cache key below: regenerating the
    testdata changes the fingerprint, so a stale cache is simply never
    addressed again — no marker-file staleness to reason about."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    paths = [root]
    if os.path.isdir(root):
        paths = sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(root) for f in fs)
    h = hashlib.sha256()
    for p in paths:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, sf_dir)}|{st.st_size}|"
                 f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:12]


def cached_dataset_path(tag: str, sf_dir: str, table: str) -> str:
    """Deterministic cache location for a derived round-trip dataset —
    shared by the operators and the plan tests that inspect the files."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    fp = _source_fingerprint(sf_dir, table)
    return os.path.join(tempfile.gettempdir(), f"lts_{tag}_{sf_tag}_{fp}")


def _cached_dataset(tag: str, sf_dir: str, table: str, build) -> str:
    """Build-once cache for the sink/source round-trip fixtures.

    ``build(tmp_path)`` writes the complete dataset into a private temp
    directory, which is then atomically renamed to the fingerprinted final
    path. Concurrent builders (pytest-xdist worker, bench running beside
    tests) each build into their own temp dir; the rename loser gets
    ENOTEMPTY, discards its copy, and reads the winner's — no process ever
    observes a half-written dataset, because the final path only ever
    appears complete."""
    final = cached_dataset_path(tag, sf_dir, table)
    ready = os.path.join(final, "_LTS_READY")
    if os.path.exists(ready):
        return final
    tmp = f"{final}.build-{uuid.uuid4().hex[:8]}"
    build(tmp)
    open(os.path.join(tmp, "_LTS_READY"), "w").close()
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return final

_SCAN_ORACLE = f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {oracle_dsum('o_totalprice')} AS price_sum
FROM orders
"""


@register("scan_parquet", oracle=_SCAN_ORACLE)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan + checksum. At scale this is a pure map-side pass: no
    shuffle beyond the single-row final aggregate."""
    o = load_table(spark, "orders", sf_dir)
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        dsum("o_totalprice").alias("price_sum"),
    )


@register("scan_projection_pushdown",
          oracle="SELECT l_orderkey, l_quantity FROM lineitem")
def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-of-11-column projection; ReadSchema must shrink to exactly these
    (columnar pruning = 5× less parquet IO on this table)."""
    return load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")


@register("scan_predicate_pushdown", oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'
""")
def scan_predicate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushed into the parquet reader (row-group stats skip)."""
    return (
        load_table(spark, "lineitem", sf_dir)
        .where(F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    )


_SINK_SELECT = """
SELECT l_returnflag, COUNT(*) AS n_rows, CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
GROUP BY l_returnflag
"""


def _sink_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "lineitem", sf_dir)
        .where(F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum("l_orderkey").cast("bigint").alias("key_sum"))
    )


@register("sink_parquet", oracle=_SINK_SELECT)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → read-back round trip. Deterministic content, so it gets a full
    oracle (stronger than the rows-only minimum in SURVEY.md §2.1)."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(tempfile.gettempdir(), f"lts_sink_parquet_{sf_tag}")
    _sink_source(spark, sf_dir).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register("sink_managed_table", oracle=_SINK_SELECT)
def sink_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-layer managed table (the Kudu/Hive batch-view analog):
    ``saveAsTable`` into the local warehouse, read back via the catalog."""
    save_managed_table(spark, _sink_source(spark, sf_dir), "lts_serving_view")
    return spark.table("lts_serving_view")


_KAFKA_ORACLE = """
SELECT ts, user_id, event_type, value,
       CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
FROM events
"""


@register("source_kafka_shaped", oracle=_KAFKA_ORACLE)
def source_kafka_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speed-layer ingestion shape (SURVEY.md §2.1): serialize events into a
    Kafka-style (key, json-value, timestamp) envelope, then parse it back with
    ``from_json`` exactly as a ``readStream.format("kafka")`` consumer would.
    Timestamps travel as epoch-micros so the round trip is lossless (events.ts
    carries µs precision). In production only the source line changes.
    Envelope contract lives in sources/kafka.py, shared with the streaming
    path."""
    from lambdatotheslaughter_spark.sources.kafka import parse_envelope, to_envelope

    ev = load_table(spark, "events", sf_dir)
    return parse_envelope(to_envelope(ev))


_PARTITION_PRUNE_ORACLE = f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, COUNT(*) AS n_events,
       {oracle_dsum('value')} AS sum_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
GROUP BY CAST(ts AS DATE)
"""


@register("scan_partition_pruning", oracle=_PARTITION_PRUNE_ORACLE)
def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning (SURVEY §4): materialize a
    date-partitioned copy of events (partitionBy event_date — the layout a
    100 TB events lake would use), then query 3 of 30 partitions. The
    partition filter prunes at PLANNING time: only those directories are
    listed/read. tests/test_plans.py asserts the pruned file count."""
    ev = load_table(spark, "events", sf_dir)
    part_dir = _cached_dataset(
        "events_by_date", sf_dir, "events",
        lambda tmp: (ev.withColumn("event_date", F.to_date("ts"))
                     .write.mode("overwrite").partitionBy("event_date")
                     .parquet(tmp)))
    part = spark.read.parquet(part_dir)
    return (
        part.where(F.col("event_date").between("2024-01-10", "2024-01-12"))
        .groupBy("event_date")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        # DATE cells reach pandas as datetime.date from Spark but Timestamp
        # from DuckDB — emit the ISO string instead (repr-stable)
        .withColumn("event_date", F.col("event_date").cast("string"))
    )


_MALFORMED_ORACLE = """
SELECT COUNT(*) FILTER (WHERE event_id % 37 <> 0) AS n_good,
       COUNT(*) FILTER (WHERE event_id % 37 = 0) AS n_bad,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT))
            FILTER (WHERE event_id % 37 <> 0) AS BIGINT) AS good_prop_k_sum
FROM events
"""


@register("source_kafka_malformed", oracle=_MALFORMED_ORACLE)
def source_kafka_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record policy on the ingestion path: every 37th envelope is
    corrupted (truncated JSON); PERMISSIVE from_json yields a null struct
    for those instead of failing the batch — the poison-pill behavior a
    production Kafka consumer needs. Counts + a checksum over the surviving
    rows prove no good record is lost and no bad one leaks through."""
    from lambdatotheslaughter_spark.sources.kafka import ENVELOPE_SCHEMA, to_envelope

    ev = load_table(spark, "events", sf_dir)
    env = to_envelope(ev)
    corrupted = env.select(
        F.col("key"),
        F.when(F.col("key").cast("bigint") % 37 == 0,
               F.concat(F.substring("value", 1, 15), F.lit("<TRUNCATED")))
         .otherwise(F.col("value")).alias("value"),
    )
    parsed = corrupted.select(
        F.col("key").cast("bigint").alias("event_id"),
        F.from_json("value", ENVELOPE_SCHEMA).alias("j"))
    is_good = F.col("j.ts_us").isNotNull()
    return parsed.agg(
        F.count(F.when(is_good, 1)).alias("n_good"),
        F.count(F.when(~is_good, 1)).alias("n_bad"),
        F.sum(F.when(is_good,
                     F.get_json_object(F.col("j.props"), "$.k").cast("bigint")))
         .cast("bigint").alias("good_prop_k_sum"),
    )


_JSONL_ORACLE = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM documents
GROUP BY lang
"""


@register("source_jsonl", oracle=_JSONL_ORACLE)
def source_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines connector round trip: write documents as JSONL, read back
    with an EXPLICIT schema, aggregate. The explicit schema is the 100 TB
    discipline — schema inference re-reads the whole input once before the
    real scan even starts (a full extra pass over the lake), and a drifted
    field would silently widen types mid-pipeline. JSONL sources also get
    no row-group statistics: filters evaluate post-parse, which is why the
    lake's canonical format is parquet and JSON stays at the ingest edge."""
    out = _cached_dataset(
        "docs_jsonl", sf_dir, "documents",
        lambda tmp: (load_table(spark, "documents", sf_dir)
                     .write.mode("overwrite").json(tmp)))
    schema = ("doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    back = spark.read.schema(schema).json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


_CSV_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_cents
FROM orders
GROUP BY o_orderstatus
"""


@register("source_csv", oracle=_CSV_ORACLE)
def source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector round trip with explicit schema + header. Money travels
    the CSV boundary as exact cents (printf %.2f → ×100 on read): a
    double→text→double round trip is where float drift sneaks into
    pipelines, so the op proves the cents path is lossless against the
    parquet-side oracle. Timestamps ride ISO-8601. Explicit schema, FAILFAST
    mode — a malformed row should kill the job at the ingest edge, not
    poison the lake downstream (the permissive path is source_kafka_malformed)."""
    o = load_table(spark, "orders", sf_dir)
    out = _cached_dataset(
        "orders_csv", sf_dir, "orders",
        lambda tmp: (o.select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            F.format_string("%.2f", "o_totalprice").alias("o_totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"))
         .write.mode("overwrite").option("header", True).csv(tmp)))
    schema = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
              "o_totalprice string, o_orderdate timestamp")
    back = (spark.read.schema(schema).option("header", True)
            .option("mode", "FAILFAST").csv(out))
    cents = iround(F.col("o_totalprice").cast("double") * 100)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        F.sum(cents).cast("bigint").alias("price_cents"),
    )


_ORC_ORACLE = """
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM documents
GROUP BY source, lang
"""


@register("source_orc", oracle=_ORC_ORACLE)
def source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC connector round trip — the second columnar lake format. Same
    pushdown machinery as parquet (column pruning + predicate pushdown into
    stripe/row-group stats), so a lake standardized on ORC loses nothing:
    the engine treats format as a leaf-node detail, every plan above the
    scan is identical. Checksummed per (source, lang) against the parquet
    originals to prove the round trip is lossless."""
    out = _cached_dataset(
        "docs_orc", sf_dir, "documents",
        lambda tmp: (load_table(spark, "documents", sf_dir)
                     .write.mode("overwrite").orc(tmp)))
    back = spark.read.orc(out)
    return back.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


_SORTED_SINK_ORACLE = """
SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-11-01 00:00:00'
"""


@register("sink_sorted_data_skipping", oracle=_SORTED_SINK_ORACLE)
def sink_sorted_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-for-skipping sink: rewrite lineitem range-partitioned by
    shipdate (disjoint time interval per file) and sorted by shipdate
    WITHIN each file, then filter the read-back. Sorting makes every
    parquet row-group's (min,max) shipdate interval narrow, so the
    pushed-down filter skips whole files and row groups via footer stats
    alone — the zone-map effect. On a 100 TB fact table this layout
    (cluster-by time, sort-within-files) is the difference between
    scanning 3 files and scanning 3,000; same mechanism Delta/Iceberg
    call data skipping. The explicit partition count pins a multi-file
    layout (AQE would coalesce this test-scale shuffle to one file);
    content round-trips exactly, so the op gets a full oracle; tests
    assert via the real parquet footers that the filter range lands in a
    minority of files."""
    li = load_table(spark, "lineitem", sf_dir)

    def build(tmp: str) -> None:
        # INT96 (the legacy default) carries NO parquet statistics — footer
        # min/max, and with them all skipping, exist only for INT64 µs.
        with scoped_conf(spark, {"spark.sql.parquet.outputTimestampType":
                                 "TIMESTAMP_MICROS"}):
            (li.select("l_orderkey", "l_linenumber", "l_shipdate",
                       "l_extendedprice")
             .repartitionByRange(8, "l_shipdate")
             .sortWithinPartitions("l_shipdate")
             .write.mode("overwrite").parquet(tmp))

    out = _cached_dataset("lineitem_sorted", sf_dir, "lineitem", build)
    back = spark.read.parquet(out)
    return back.where(
        F.col("l_shipdate") >= F.lit("2001-11-01").cast("timestamp"))


_EVOLUTION_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                     THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                END) AS BIGINT) AS evolved_cents,
       CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
         AS n_evolved
FROM orders
"""


@register("scan_schema_evolution", oracle=_EVOLUTION_ORACLE)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written with DIFFERENT
    schemas into one dataset (the second adds a cents column), read back
    with mergeSchema — rows from the old batch surface NULL for the new
    column instead of failing the scan. This is how a 100 TB lake absorbs
    a producer-side schema change without rewriting history. mergeSchema
    is a read option here, not the session default: footer-merging every
    scan is an extra planning pass you only pay when evolution actually
    happened."""
    o = load_table(spark, "orders", sf_dir)

    def build(tmp: str) -> None:
        (o.where(F.col("o_orderkey") % 2 == 0)
         .select("o_orderkey", "o_custkey")
         .write.mode("overwrite").parquet(tmp))
        (o.where(F.col("o_orderkey") % 2 == 1)
         .select("o_orderkey", "o_custkey",
                 iround(F.col("o_totalprice") * 100)
                 .alias("o_cents"))
         .write.mode("append").parquet(tmp))

    out = _cached_dataset("orders_evolved", sf_dir, "orders", build)
    back = spark.read.option("mergeSchema", True).parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        F.sum("o_cents").cast("bigint").alias("evolved_cents"),
        F.count("o_cents").cast("bigint").alias("n_evolved"),
    )


_DYN_OVERWRITE_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM events
WHERE event_type <> 'click' OR event_id % 3 = 0
GROUP BY event_type
"""


@register("sink_dynamic_partition_overwrite", oracle=_DYN_OVERWRITE_ORACLE)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: rewrite ONLY the partitions present in
    the incoming batch (here: a compacted 'click' slice), leaving every
    other partition untouched — the idempotent daily-reprocess pattern on
    a partitioned lake. STATIC mode (the default) would have dropped the
    whole table first; the conf is scoped to this write and restored.
    Read-back proves clicks were replaced and nothing else moved."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type")

    def build(tmp: str) -> None:
        ev.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
        with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode":
                                 "dynamic"}):
            (ev.where((F.col("event_type") == "click")
                      & (F.col("event_id") % 3 == 0))
             .write.mode("overwrite").partitionBy("event_type").parquet(tmp))

    out = _cached_dataset("events_dynover", sf_dir, "events", build)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )


_COMPACTION_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n_rows,
       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(l_linenumber) AS BIGINT) AS line_sum
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
GROUP BY l_returnflag
"""


@register("sink_compaction_small_files", oracle=_COMPACTION_ORACLE)
def sink_compaction_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the #1 operational disease of a streaming
    lake: every micro-batch commits a file, and a year of minute-batches is
    ~500k files whose footer reads and task startup dominate planning long
    before any data is scanned. The op materializes a deliberately
    fragmented dataset (64 shards of a lineitem slice), compacts it with a
    single ``coalesce`` pass — a NARROW dependency: files merge locally,
    no shuffle moves a row — and proves content identity on the read-back.
    At 100 TB this runs per partition directory (compact yesterday's 1,440
    micro-batch files while today streams), which is exactly the
    OPTIMIZE/rewrite-data-files job Delta and Iceberg schedule; the
    file-count collapse is pinned against real directory listings in
    tests/test_plans.py."""
    li = (load_table(spark, "lineitem", sf_dir)
          .where(F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp"))
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"))
    frag = _cached_dataset(
        "lineitem_fragmented", sf_dir, "lineitem",
        lambda tmp: li.repartition(64).write.mode("overwrite").parquet(tmp))
    compacted = _cached_dataset(
        "lineitem_compacted", sf_dir, "lineitem",
        lambda tmp: (spark.read.parquet(frag).coalesce(4)
                     .write.mode("overwrite").parquet(tmp)))
    back = spark.read.parquet(compacted)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").cast("bigint").alias("key_sum"),
        F.sum("l_linenumber").cast("bigint").alias("line_sum"),
    )


_TIME_TRAVEL_ORACLE = """
SELECT 1 AS snapshot_id, COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 2 AS snapshot_id, COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
FROM orders
"""


def _orders_manifest_fixture(spark: SparkSession, sf_dir: str,
                             tag: str = "orders_manifest_tt",
                             n_orphans: int = 0) -> str:
    """Two-commit manifest table shared by scan_time_travel_manifest,
    scan_incremental_manifest_diff, and scan_vacuum_orphan_files:
    commit 1 = even-keyed orders, commit 2 appends the odd-keyed batch as
    new immutable files; manifest_v{1,2} list the files visible in each
    snapshot, paths relative to the table root (the cache dir is renamed
    into place after build). ``n_orphans`` plants that many unreferenced
    .tmp files beside commit 1 — failed-writer debris for the vacuum op
    (a distinct ``tag`` keeps orphan-bearing fixtures separate)."""
    import glob
    import json

    o = load_table(spark, "orders", sf_dir)

    def build(tmp: str) -> None:
        (o.where(F.col("o_orderkey") % 2 == 0)
         .write.mode("overwrite").parquet(os.path.join(tmp, "data_c1")))
        (o.where(F.col("o_orderkey") % 2 == 1)
         .write.mode("overwrite").parquet(os.path.join(tmp, "data_c2")))
        v1 = sorted(glob.glob(os.path.join(tmp, "data_c1", "*.parquet")))
        v2 = v1 + sorted(glob.glob(os.path.join(tmp, "data_c2", "*.parquet")))
        for i, files in ((1, v1), (2, v2)):
            with open(os.path.join(tmp, f"manifest_v{i}.json"), "w") as f:
                json.dump({"snapshot_id": i,
                           "files": [os.path.basename(os.path.dirname(p))
                                     + "/" + os.path.basename(p)
                                     for p in files]}, f)
        for i in range(n_orphans):
            with open(os.path.join(tmp, "data_c1", f"orphan-{i:02d}.tmp"),
                      "wb") as f:
                f.write(b"\x00" * 128)

    return _cached_dataset(tag, sf_dir, "orders", build)


def _manifest_files(root: str, version: int) -> list[str]:
    import json

    with open(os.path.join(root, f"manifest_v{version}.json")) as f:
        return json.load(f)["files"]


@register("scan_time_travel_manifest", oracle=_TIME_TRAVEL_ORACLE)
def scan_time_travel_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel on plain parquet via manifest
    files — the mechanism under Delta/Iceberg stripped to its core: every
    commit writes IMMUTABLE data files plus a manifest listing the files
    visible in that snapshot, and readers plan from the manifest, never
    from directory listing. Commit 1 loads the even-keyed orders; commit 2
    appends the odd-keyed batch without touching commit 1's files — so
    reading manifest v1 after v2 landed still returns exactly the v1 table
    (time travel for free, because nothing is ever rewritten). The
    manifest is driver-side metadata like a Delta log entry: bytes read
    scale with file count, not data size, and the file list feeds
    ``spark.read.parquet(*files)`` so pushdown/pruning work unchanged."""
    root = _orders_manifest_fixture(spark, sf_dir)

    def read_snapshot(version: int) -> DataFrame:
        paths = [os.path.join(root, rel)
                 for rel in _manifest_files(root, version)]
        return (spark.read.schema(load_table(spark, "orders", sf_dir).schema)
                .parquet(*paths)
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                     F.sum("o_custkey").cast("bigint").alias("cust_sum"))
                .select(F.lit(version).alias("snapshot_id"), "n_rows",
                        "key_sum", "cust_sum"))

    return read_snapshot(1).unionByName(read_snapshot(2))


_METADATA_ORACLE = """
SELECT CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
       CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS row_index_sum,
       CAST(1 AS BIGINT) AS n_files
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
GROUP BY l_linenumber
"""


@register("scan_metadata_columns", oracle=_METADATA_ORACLE)
def scan_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden `_metadata` file columns (`_metadata.file_name`,
    `_metadata.row_index`) — the lineage/debugging surface a 100 TB lake
    operator lives on: which physical file did a corrupt row come from,
    how are rows distributed across files, did a writer number rows
    correctly. VALUE-EXACT oracle (promoted from rows-only, VERDICT r5
    #5) via a layout that pins Spark's file metadata to DuckDB-derivable
    facts: the fixture is repartitioned BY the partition key before
    `partitionBy`, so each l_linenumber directory holds exactly ONE
    parquet file. Then per key: n_files (countDistinct of
    `_metadata.file_name`) must be 1, and the per-file 0..n-1 row
    numbering makes sum(`_metadata.row_index`) = n(n-1)/2 exactly — both
    recomputable from the source table by the oracle, alongside the row
    count and key checksum. The multi-file/round-robin `_metadata`
    surface stays covered by tests/test_plans.py's fragmented-fixture
    listing check (sink_compaction_small_files shares that fixture)."""
    part = _cached_dataset(
        "lineitem_bykey", sf_dir, "lineitem",
        lambda tmp: (load_table(spark, "lineitem", sf_dir)
                     .where(F.col("l_shipdate")
                            >= F.lit("2001-01-01").cast("timestamp"))
                     .select("l_orderkey", "l_linenumber", "l_returnflag",
                             "l_shipdate")
                     .repartition("l_linenumber")
                     .write.mode("overwrite")
                     .partitionBy("l_linenumber").parquet(tmp)))
    back = spark.read.parquet(part)
    return (back.select(F.col("l_linenumber").cast("bigint")
                        .alias("l_linenumber"),
                        "l_orderkey",
                        F.col("_metadata.file_name").alias("file_name"),
                        F.col("_metadata.row_index").alias("row_index"))
            .groupBy("l_linenumber")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.sum("l_orderkey").cast("bigint").alias("key_sum"),
                 F.sum("row_index").cast("bigint").alias("row_index_sum"),
                 F.countDistinct("file_name").cast("bigint")
                 .alias("n_files")))


_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(CASE WHEN o_totalprice <= 900.0 THEN 1 END) AS BIGINT)
         AS n_suspect_price,
       CAST(COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS BIGINT)
         AS n_null_date,
       CAST(COUNT(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 END)
            AS BIGINT) AS n_bad_status
FROM orders
"""


@register("scan_observe_quality", oracle=_OBSERVE_ORACLE)
def scan_observe_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality observation (`DataFrame.observe` +
    `Observation`): null/range/domain counters computed as accumulator-
    style metrics DURING the single pass the job was already making — the
    production pattern for monitoring a 100 TB ingest without paying a
    second scan (the naive form runs a separate validation query per
    metric). The observed values are returned as the result row, so the
    oracle proves the observation API reports exactly what a direct
    aggregation would."""
    import uuid

    from pyspark.sql import Observation

    o = load_table(spark, "orders", sf_dir)
    obs = Observation(f"quality_{uuid.uuid4().hex[:8]}")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice") <= 900.0, 1))
         .alias("n_suspect_price"),
        F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias("n_null_date"),
        F.count(F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1))
         .alias("n_bad_status"),
    )
    observed.count()  # the one real pass; metrics ride along
    got = obs.get
    return spark.createDataFrame(
        [(got["n_rows"], got["n_suspect_price"], got["n_null_date"],
          got["n_bad_status"])],
        "n_rows bigint, n_suspect_price bigint, n_null_date bigint, "
        "n_bad_status bigint")


_TEXT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(len(text)) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       MIN(md5(text)) AS min_line_md5
FROM documents
"""


@register("source_text_lines", oracle=_TEXT_ORACLE)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text connector (`spark.read.text`) — the rawest
    ingest format in any crawl pipeline: one line, one record, schema is
    a single `value` string. Round trip: documents.text written via
    write.text (corpus is newline-free by construction — a newline IN a
    record is the format's known failure mode and belongs to the escaped
    CSV/JSONL paths), read back as lines, and summarized with an md5
    witness so the oracle proves BYTE-exact line fidelity, not just
    counts. Scale: text splits by line across tasks like any file
    source; the aggregation is one map-side-combinable pass."""
    d = load_table(spark, "documents", sf_dir)
    out = _cached_dataset(
        "documents_txt", sf_dir, "documents",
        lambda tmp: d.select("text").write.mode("overwrite").text(tmp))
    back = spark.read.text(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.sum(F.size(F.split("value", " "))).cast("bigint")
        .alias("total_tokens"),
        F.min(F.md5("value")).alias("min_line_md5"),
    )


_POSDEL_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(l_linenumber) AS BIGINT) AS line_sum
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-01-01'
  AND CAST(concat('0x', substring(md5(l_orderkey || ':' || l_linenumber), 1, 15))
      AS BIGINT) % 20 <> 0
GROUP BY l_returnflag
"""


@register("scan_position_deletes", oracle=_POSDEL_ORACLE)
def scan_position_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read POSITION deletes (the Iceberg-v2 / Delta deletion-vector
    pattern): data files stay immutable; a DELETE writes a small side file of
    (file_name, row_index) positions, and readers subtract those positions at
    scan time. This is how a 100 TB lake deletes 5% of rows without
    rewriting 100 TB — the rewrite is deferred to compaction
    (`sink_compaction_small_files` is the other half of that lifecycle).

    Build: the DELETE's content predicate (a portable md5 rule on the
    record key, ~5% selectivity) is evaluated ONCE against the fragmented
    multi-file fixture and persisted as a parquet position-delete file of
    `_metadata`-derived (file_name, row_index) pairs. Read: the merge-on-read
    scan knows nothing of the original predicate — it anti-joins positions
    only, with the small delete side broadcast so the data never shuffles.
    The oracle recomputes the surviving aggregate from the content rule, so
    parity proves the position mapping (file identity + per-file row
    numbering) is exact, not just that some rows vanished."""
    frag = _cached_dataset(
        "lineitem_fragmented", sf_dir, "lineitem",
        lambda tmp: (load_table(spark, "lineitem", sf_dir)
                     .where(F.col("l_shipdate")
                            >= F.lit("2001-01-01").cast("timestamp"))
                     .select("l_orderkey", "l_linenumber", "l_returnflag",
                             "l_shipdate")
                     .repartition(64).write.mode("overwrite").parquet(tmp)))

    from lambdatotheslaughter_spark.functions.text import md5_int60

    def build_deletes(tmp: str) -> None:
        doomed = md5_int60(
            F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber"))) % 20 == 0
        (spark.read.parquet(frag)
         .select(F.col("_metadata.file_name").alias("file_name"),
                 F.col("_metadata.row_index").alias("row_index"),
                 "l_orderkey", "l_linenumber")
         .where(doomed)
         .select("file_name", "row_index")
         .coalesce(1).write.mode("overwrite").parquet(tmp))

    posdel = _cached_dataset("lineitem_posdel", sf_dir, "lineitem",
                             build_deletes)
    data = (spark.read.parquet(frag)
            .select("l_orderkey", "l_linenumber", "l_returnflag",
                    F.col("_metadata.file_name").alias("file_name"),
                    F.col("_metadata.row_index").alias("row_index")))
    deletes = spark.read.parquet(posdel)
    survivors = data.join(F.broadcast(deletes), ["file_name", "row_index"],
                          "left_anti")
    return (survivors.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("l_orderkey").cast("bigint").alias("key_sum"),
                 F.sum("l_linenumber").cast("bigint").alias("line_sum")))


def _morton16(a, b):
    """Interleave the low 16 bits of two non-negative int columns into a
    32-bit Z-value (a in odd bits, b in even). 32 shift/mask terms — all
    inside whole-stage codegen, no UDF."""
    z = F.lit(0).cast("bigint")
    for i in range(16):
        z = (z
             + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
             + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
    return z


_ZORDER_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
         AS qty_cents
FROM lineitem
WHERE (l_partkey BETWEEN 100 AND 300) OR (l_suppkey BETWEEN 10 AND 20)
"""


@register("sink_zorder_interleave", oracle=_ZORDER_ORACLE)
def sink_zorder_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering (the Delta `OPTIMIZE ZORDER BY` / Iceberg
    `rewrite_data_files(strategy => 'sort', sort_order => 'zorder(..)')`
    job): lay a table out so footer min/max stats prune files for filters
    on EITHER of two columns. A plain sort clusters one column perfectly
    and leaves the other uniform across every file (no file skippable);
    interleaving the bits of both keys into a Morton code and
    range-partitioning + sorting on it bounds every file's extent in BOTH
    dimensions — the 2-D locality that makes multi-predicate scans on a
    100 TB lake skip most of it.

    Build: normalize each key to a 16-bit grid (span measured in the same
    layout pass — DDL-time stats), interleave to a z-value, then
    `repartitionByRange(16, z) + sortWithinPartitions(z)` so file = z-range.
    The oracle proves the rewrite is content-preserving on a two-sided
    filter; tests/test_plans.py reads the real parquet footers and asserts
    the per-file extent of BOTH l_partkey and l_suppkey is a fraction of
    the domain (the skipping guarantee itself)."""
    cols = ("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    li = load_table(spark, "lineitem", sf_dir).select(*cols)

    def build(tmp: str) -> None:
        st = li.agg(F.min("l_partkey"), F.max("l_partkey"),
                    F.min("l_suppkey"), F.max("l_suppkey")).first()
        plo, phi, slo, shi = int(st[0]), int(st[1]), int(st[2]), int(st[3])

        def grid(col: str, lo: int, hi: int):
            span = max(hi - lo + 1, 1)
            return ((F.col(col) - F.lit(lo)).cast("bigint")
                    * F.lit(65536) / F.lit(span)).cast("bigint")

        z = _morton16(grid("l_partkey", plo, phi), grid("l_suppkey", slo, shi))
        (li.withColumn("z", z)
         .repartitionByRange(16, "z")
         .sortWithinPartitions("z")
         .drop("z")
         .write.mode("overwrite").parquet(tmp))

    out = _cached_dataset("lineitem_zorder", sf_dir, "lineitem", build)
    back = spark.read.parquet(out)
    return (back.where(F.col("l_partkey").between(100, 300)
                       | F.col("l_suppkey").between(10, 20))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("l_orderkey").cast("bigint").alias("key_sum"),
                 F.sum(iround(F.col("l_quantity") * 100))
                 .cast("bigint").alias("qty_cents")))


_MANIFEST_DIFF_ORACLE = """
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 2 = 1)
    AS n_rows_added,
  (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders WHERE o_orderkey % 2 = 1)
    AS key_sum_added,
  (SELECT CAST(SUM(o_custkey) AS BIGINT) FROM orders WHERE o_orderkey % 2 = 1)
    AS cust_sum_added,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows_v2,
  (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders) AS key_sum_v2
"""


@register("scan_incremental_manifest_diff", oracle=_MANIFEST_DIFF_ORACLE)
def scan_incremental_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot consumption — the read-side complement of
    scan_time_travel_manifest's commit machinery (same fixture, same
    manifests): a consumer that already processed snapshot v1 plans the
    NEXT run from the manifest set-difference v2 − v1 and scans only the
    files the new commit added. Because committed files are immutable,
    the diff is exact — no modified-rows ambiguity — which is what makes
    a manifest log strictly stronger than directory-mtime polling (a
    rewritten file would silently alias as 'already seen').

    This is how 100 TB derived tables stay fresh: the daily downstream
    job reads the ~0.1% of files the day appended, not the lake, and
    maintains its aggregate incrementally — the output proves the
    identity by computing the v2 totals as v1-agg (from stored snapshot
    state, HERE re-read from v1's files) + delta-agg, never scanning v2
    in full. Bytes planned scale with |manifest|, bytes read with the
    delta."""
    root = _orders_manifest_fixture(spark, sf_dir)
    seen = set(_manifest_files(root, 1))
    delta = [os.path.join(root, rel) for rel in _manifest_files(root, 2)
             if rel not in seen]
    assert delta, "snapshot diff is empty — fixture corrupt"
    schema = load_table(spark, "orders", sf_dir).schema
    d = spark.read.schema(schema).parquet(*delta).agg(
        F.count(F.lit(1)).alias("n_rows_added"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum_added"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum_added"))
    v1_paths = [os.path.join(root, rel) for rel in _manifest_files(root, 1)]
    v1_agg = spark.read.schema(schema).parquet(*v1_paths).agg(
        F.count(F.lit(1)).alias("_v1_rows"),
        F.sum("o_orderkey").cast("bigint").alias("_v1_keys"))
    return (d.crossJoin(v1_agg)
            .select("n_rows_added", "key_sum_added", "cust_sum_added",
                    (F.col("_v1_rows") + F.col("n_rows_added"))
                    .alias("n_rows_v2"),
                    (F.col("_v1_keys") + F.col("key_sum_added"))
                    .cast("bigint").alias("key_sum_v2")))


@register("scan_count_metadata_only", oracle="""
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_lineitem,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_events
""")
def scan_count_metadata_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) as a ZERO-column scan — the row-count query every
    freshness check, reconciliation job, and planner-statistics pass
    fires constantly. With no column referenced, pruning collapses the
    parquet ReadSchema to the empty struct (pinned in
    tests/test_plans.py), so the reader serves batch sizes from
    row-group metadata instead of decoding any page: on a 100 TB table
    the count costs footer reads, not a data scan. Three tables counted
    in one query; each count is a map-side pass into a single-row
    aggregate, joined driver-free via 1×1 cross joins."""
    def cnt(table: str, alias: str) -> DataFrame:
        return (load_table(spark, table, sf_dir)
                .agg(F.count(F.lit(1)).alias(alias)))

    return (cnt("lineitem", "n_lineitem")
            .crossJoin(cnt("orders", "n_orders"))
            .crossJoin(cnt("events", "n_events")))


_CACHED_VIEW_ORACLE = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM rev) AS n_customers,
  (SELECT CAST(SUM(rev_cents) AS BIGINT) FROM rev) AS total_rev_cents,
  (SELECT CAST(SUM(n_orders) AS BIGINT) FROM rev) AS total_orders,
  (SELECT o_custkey FROM rev
   ORDER BY rev_cents DESC, o_custkey LIMIT 1) AS top_custkey,
  (SELECT rev_cents FROM rev
   ORDER BY rev_cents DESC, o_custkey LIMIT 1) AS top_rev_cents
"""


def cached_revenue_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached per-customer revenue serving view shared by
    scan_cached_view_reuse and its plan test. Integer-cents money so the
    cached rows — and everything derived from them — are exact. persist()
    is idempotent: repeated calls return the same cached plan."""
    o = load_table(spark, "orders", sf_dir)
    rev = (o.groupBy("o_custkey")
           .agg(F.sum(iround(F.col("o_totalprice") * 100))
                .cast("bigint").alias("rev_cents"),
                F.count(F.lit(1)).alias("n_orders")))
    return rev.persist()


@register("scan_cached_view_reuse", oracle=_CACHED_VIEW_ORACLE)
def scan_cached_view_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized serving-view reuse — the lambda serving layer's cache
    discipline: an expensive base view (per-customer revenue — at 100 TB
    the one shuffle worth paying once) is persisted, and BOTH downstream
    serving queries (fleet-wide totals; the tie-pinned top customer) read
    the in-memory columnar copy instead of re-aggregating orders —
    `InMemoryTableScan` in both downstream plans is pinned in
    tests/test_plans.py (via revenue_serving_queries on a live cache).
    The cache is executor-memory distributed (the serving analog of a
    Kudu materialization), sized by the GROUP's cardinality, not the
    fact table's; eviction hands back to recompute, never to wrong
    answers. The registered op materializes the 1-row serving result
    eagerly (localCheckpoint) and unpersists before returning, so a full
    registry sweep does not leave the cached relation resident in
    executor memory for the rest of the run."""
    rev = cached_revenue_view(spark, sf_dir)
    res = revenue_serving_queries(rev).localCheckpoint(eager=True)
    rev.unpersist()
    return res


def revenue_serving_queries(rev: DataFrame) -> DataFrame:
    """Both downstream serving queries over the (persisted) revenue view —
    shared by scan_cached_view_reuse and the InMemoryTableScan plan test."""
    totals = rev.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev_cents").cast("bigint").alias("total_rev_cents"),
        F.sum("n_orders").cast("bigint").alias("total_orders"))
    top = (rev.orderBy(F.col("rev_cents").desc(), "o_custkey").limit(1)
           .select(F.col("o_custkey").alias("top_custkey"),
                   F.col("rev_cents").alias("top_rev_cents")))
    return totals.crossJoin(top)


_DPP_ORACLE = f"""
WITH dim AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
), tagged AS (
  SELECT d, CAST(concat('0x', substring(md5(CAST(d AS VARCHAR)), 1, 15))
               AS BIGINT) % 7 AS tag
  FROM dim
)
SELECT CAST(f.d AS VARCHAR) AS event_date,
       COUNT(*) AS n_events, {oracle_dsum('f.value')} AS sum_value
FROM (SELECT CAST(ts AS DATE) AS d, value FROM events) f
JOIN tagged t ON f.d = t.d
WHERE t.tag = 3
GROUP BY f.d
"""


@register("scan_dynamic_partition_pruning", oracle=_DPP_ORACLE)
def scan_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the star-schema complement of
    scan_partition_pruning's static case: the fact filter isn't known at
    planning time because it lives on a DIM attribute (a stored tag
    column, not derivable from the join key in-plan), so Catalyst injects
    a runtime subquery into the fact scan's PartitionFilters
    (`dynamicpruning#...`, pinned in tests/test_plans.py) that waits for
    the broadcast dim, collects its surviving join keys, and lists only
    those partition directories. On a 100 TB date-partitioned lake this
    is THE mechanism that keeps 'revenue for promo dates' from scanning
    every day: bytes read scale with the dim's selectivity, decided at
    run time. The dim is materialized as its own parquet fixture (dates +
    portable-md5 tag) so the tag really is opaque to static pruning; the
    oracle recomputes the same tag arithmetic from the date."""
    from lambdatotheslaughter_spark.functions.text import md5_int60

    ev = load_table(spark, "events", sf_dir)
    part_dir = _cached_dataset(
        "events_by_date", sf_dir, "events",
        lambda tmp: (ev.withColumn("event_date", F.to_date("ts"))
                     .write.mode("overwrite").partitionBy("event_date")
                     .parquet(tmp)))
    part = spark.read.parquet(part_dir)
    dim_dir = _cached_dataset(
        "date_dim_tagged", sf_dir, "events",
        lambda tmp: (ev.select(F.to_date("ts").alias("d")).distinct()
                     .withColumn("tag", F.pmod(
                         md5_int60(F.col("d").cast("string")), F.lit(7)))
                     .coalesce(1).write.mode("overwrite").parquet(tmp)))
    dim = spark.read.parquet(dim_dir).where(F.col("tag") == 3)
    return (part.join(F.broadcast(dim), part.event_date == dim.d)
            .groupBy("event_date")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("sum_value"))
            .withColumn("event_date", F.col("event_date").cast("string")))


_BINARY_FILES_ORACLE = """
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS payload_len,
       md5(text) AS payload_md5
FROM documents WHERE doc_id % 100 = 0
"""


@register("source_binary_files", oracle=_BINARY_FILES_ORACLE)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source — THE multimodal ingestion path: a directory
    of opaque media files becomes (path, length, content) rows with the
    payload as a BinaryType column, which is exactly where the
    llm_multimodal_* family picks up (decode → features → embed). The
    fixture materializes every 100th document's text as a standalone
    .bin file (fingerprint-cached); the read-back must reproduce each
    payload byte-exactly — verified by length + md5 of the content
    column against the source table. At 100 TB the reader lists once and
    streams file bytes per task (one row per file; `pathGlobFilter` and
    partitioned directory layouts bound the listing), and the binary
    column feeds Arrow batches without copies."""
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") % 100 == 0)

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        for r in d.select("doc_id", "text").collect():
            with open(os.path.join(tmp, f"{r.doc_id:012d}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))

    root = _cached_dataset("doc_binfiles", sf_dir, "documents", build)
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.bin").load(root))
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d{12})\.bin$", 1)
        .cast("bigint").alias("doc_id"),
        F.col("length").cast("bigint").alias("payload_len"),
        F.md5("content").alias("payload_md5"))


_CORRUPT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey % 2 = 0
"""


@register("scan_ignore_corrupt_files", oracle=_CORRUPT_ORACLE)
def scan_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file resilience: a dataset directory containing one file
    of garbage bytes next to the good parquet — the operational reality
    of any large lake (truncated uploads, torn writes, bit rot). With
    `spark.sql.files.ignoreCorruptFiles` the scan logs and SKIPS the
    unreadable file instead of killing the job; the result is exactly
    the good files' content (oracle = the even-keyed half that was
    written as real parquet). The conf is set per-READ via the
    DataFrameReader option, not session-wide — silently skipping corrupt
    data is a per-job decision (a backfill wants the failure; a
    best-effort report wants the skip)."""
    o = load_table(spark, "orders", sf_dir)

    def build(tmp: str) -> None:
        (o.where(F.col("o_orderkey") % 2 == 0)
         .write.mode("overwrite").parquet(tmp))
        with open(os.path.join(tmp, "part-corrupt.parquet"), "wb") as f:
            f.write(b"PAR1 this is not a parquet file \x00\xff" * 64)

    root = _cached_dataset("orders_with_corrupt", sf_dir, "orders", build)
    good = (spark.read.option("ignoreCorruptFiles", "true")
            .schema(o.schema).parquet(root))
    return good.agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum("o_orderkey").cast("bigint").alias("key_sum"))


_VACUUM_ORACLE = """
SELECT CAST(2 AS BIGINT) AS n_orphans,
       'orphan-00.tmp,orphan-01.tmp' AS orphan_names,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_live_rows,
       (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders) AS live_key_sum
"""


@register("scan_vacuum_orphan_files", oracle=_VACUUM_ORACLE)
def scan_vacuum_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM (dry run) — the missing quarter of the manifest lifecycle
    (commit → time travel → incremental diff → vacuum): list the table
    directory, subtract every file any manifest references, and report
    the ORPHANS — debris from failed/abandoned writes that directory
    listing sees but no snapshot does. Orphans are exactly why
    manifest-planned reads are load-bearing: a reader that globbed the
    directory would silently include them. The fixture plants two
    orphan .tmp files beside a committed two-snapshot orders table; the
    audit must name precisely those two AND prove the live table is
    untouched (row count + key checksum via the v2 manifest read).
    Deliberately a DRY RUN: the deletion itself is a trivial `rm` per
    name, and a registered query must not mutate shared fixtures. At
    100 TB the listing is the expensive half — it shards by directory
    prefix; the manifest side is metadata."""
    import glob

    o = load_table(spark, "orders", sf_dir)
    root = _orders_manifest_fixture(spark, sf_dir,
                                    tag="orders_manifest_vacuum",
                                    n_orphans=2)
    referenced = set()
    for v in (1, 2):
        referenced.update(_manifest_files(root, v))
    on_disk = set()
    for sub in ("data_c1", "data_c2"):
        for p in glob.glob(os.path.join(root, sub, "*")):
            if not os.path.basename(p).startswith(("_", ".")):
                on_disk.add(f"{sub}/{os.path.basename(p)}")
    orphans = sorted(os.path.basename(p) for p in on_disk - referenced)
    live_paths = [os.path.join(root, rel) for rel in _manifest_files(root, 2)]
    live = spark.read.schema(o.schema).parquet(*live_paths).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_live_rows"),
        F.sum("o_orderkey").cast("bigint").alias("live_key_sum"))
    return live.select(
        F.lit(len(orphans)).cast("bigint").alias("n_orphans"),
        F.lit(",".join(orphans)).alias("orphan_names"),
        "n_live_rows", "live_key_sum")


_JSONL_SINK_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM documents WHERE lang = 'en'
"""


@register("sink_jsonl_roundtrip", oracle=_JSONL_SINK_ORACLE)
def sink_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines SINK + schema-pinned read-back — the export half of the
    source_jsonl connector (interchange with tools that speak only
    JSONL: annotation UIs, tokenizer trainers, review samples). The
    English slice is written once per (sf, fingerprint) to a cached
    dataset path, read back through an EXPLICIT schema (never
    inferSchema on the serving path), and the aggregate must reproduce
    the source-of-truth numbers — proving values survive the
    string-typed round trip. Schema note: JSON has no int64-vs-double
    distinction, which is why the read-back schema pins LongType before
    any arithmetic.

    Scale shape: the write is one pass, partitioned like any sink; the
    read-back aggregate is map-side combinable."""
    def build(tmp: str) -> None:
        (load_table(spark, "documents", sf_dir)
         .where(F.col("lang") == "en")
         .write.mode("overwrite").json(tmp))

    out = _cached_dataset("documents_en_jsonl", sf_dir, "documents", build)
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint").json(out)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_n_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
        F.countDistinct("source").cast("bigint").alias("n_sources"))


# ---------------------------------------------------------------------------
# parquet bloom-filter layout (round 5)
# ---------------------------------------------------------------------------

_BLOOM_KEY = 7

_BLOOM_SINK_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_custkey = {_BLOOM_KEY}
"""


@register("sink_parquet_bloom_filter", oracle=_BLOOM_SINK_ORACLE)
def sink_parquet_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet BLOOM FILTER layout: rewrite orders with a bloom filter on
    the point-lookup key (o_custkey) in every file, then serve an
    equality probe from the read-back. Zone maps (min/max stats) are
    useless for a high-cardinality key scattered uniformly through the
    table — every row group's [min,max] contains every probe — so the
    bloom filter is THE skipping structure for needle-in-haystack reads:
    at 100 TB a `custkey = ?` probe consults a few KB of bloom bits per
    row group and touches only the groups that might match, the same
    mechanism engines market as file-level point-lookup indexes. The
    filter is written via the standard parquet writer options
    (per-column enable + expected NDV), so any parquet reader benefits;
    content round-trips exactly, hence the full value oracle.

    Dictionary encoding is disabled in the build: parquet-mr only emits
    a bloom filter when a column chunk falls back off the dictionary
    path (a fully-dictionary-encoded chunk IS its own exact filter), and
    at test scale every chunk would stay dictionary-encoded — at 100 TB
    the key column blows the dictionary page limit and the bloom filter
    takes over, which is the regime this models. tests/test_plans.py
    asserts the bloom offset exists in the real footers."""
    o = load_table(spark, "orders", sf_dir)

    def build(tmp: str) -> None:
        (o.select("o_orderkey", "o_custkey", "o_totalprice")
         .repartition(4, "o_orderkey")
         .write.mode("overwrite")
         .option("parquet.bloom.filter.enabled#o_custkey", "true")
         .option("parquet.bloom.filter.expected.ndv#o_custkey", "100000")
         .option("parquet.enable.dictionary", "false")
         .parquet(tmp))

    out = _cached_dataset("orders_bloom", sf_dir, "orders", build)
    back = spark.read.parquet(out)
    return back.where(F.col("o_custkey") == _BLOOM_KEY)


# ---------------------------------------------------------------------------
# nested-struct schema pruning (round 5)
# ---------------------------------------------------------------------------

_NESTED_ORACLE = """
SELECT o_orderkey,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
FROM orders WHERE o_orderkey % 3 = 0
"""


@register("scan_nested_struct_pruning", oracle=_NESTED_ORACLE)
def scan_nested_struct_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED schema pruning: a parquet dataset whose rows are deep
    structs (header/meta/money sub-records, the shape real event lakes
    have), read back touching ONE leaf — Spark's nested-schema-pruning
    rewrites the scan's ReadSchema to just ``money.cents`` inside the
    struct, so the columnar reader materializes one leaf column, not the
    whole record. At 100 TB of 500-field event structs this is the
    difference between reading 1% and 100% of the bytes: column pruning
    must reach INTO structs, not stop at top level. The plan test pins
    the pruned ReadSchema; content round-trips, hence the value oracle."""
    o = load_table(spark, "orders", sf_dir)

    def build(tmp: str) -> None:
        nested = o.select(
            "o_orderkey",
            F.struct(
                F.struct(F.col("o_orderstatus").alias("status"),
                         F.col("o_orderpriority").alias("priority"))
                .alias("header"),
                F.struct(F.col("o_totalprice").alias("total"),
                         iround(F.col("o_totalprice") * 100).alias("cents"))
                .alias("money"),
                F.col("o_orderdate").alias("placed_at")).alias("rec"))
        nested.write.mode("overwrite").parquet(tmp)

    out = _cached_dataset("orders_nested", sf_dir, "orders", build)
    back = spark.read.parquet(out)
    return (back.where(F.col("o_orderkey") % 3 == 0)
            .select("o_orderkey", F.col("rec.money.cents").alias("cents")))


# ---------------------------------------------------------------------------
# catalog statistics (ANALYZE TABLE) round trip (round 5)
# ---------------------------------------------------------------------------

_ANALYZE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_stats,
       CAST(COUNT(*) AS BIGINT) AS n_rows_actual,
       TRUE AS stats_match
FROM orders
"""


@register("catalog_analyze_stats", oracle=_ANALYZE_ORACLE)
def catalog_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE COMPUTE STATISTICS round trip: write a managed
    table, collect catalog statistics, and read the ROW COUNT back out
    of the catalog — verified against the actual count. Catalog stats
    are what feed Catalyst's cost-based decisions (join reordering,
    broadcast thresholds) when file-level estimates lie; at 100 TB an
    un-ANALYZEd lake silently disables half the optimizer. Byte sizes
    are environment-dependent and excluded; the row count is exact."""
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    tbl = f"lts_orders_stats_{sf_tag}"
    if not spark.catalog.tableExists(tbl):
        save_managed_table(spark, load_table(spark, "orders", sf_dir), tbl)
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
    desc = spark.sql(f"DESC EXTENDED {tbl}").collect()
    stats = {r.col_name: r.data_type for r in desc}
    import re as _re
    m = _re.search(r"(\d+)\s+rows", stats.get("Statistics", ""))
    n_stats = int(m.group(1)) if m else -1
    actual = spark.table(tbl).count()
    return spark.createDataFrame(
        [(n_stats, actual, n_stats == actual)],
        "n_rows_stats bigint, n_rows_actual bigint, stats_match boolean")


# ---------------------------------------------------------------------------
# PERMISSIVE CSV with corrupt-record capture (round 5)
# ---------------------------------------------------------------------------

_N_BAD_LINES = 7

_CSV_PERMISSIVE_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
       CAST({_N_BAD_LINES} AS BIGINT) AS n_corrupt,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS good_cents
FROM orders WHERE o_orderkey % 5 = 0
"""


@register("scan_csv_permissive_corrupt", oracle=_CSV_PERMISSIVE_ORACLE)
def scan_csv_permissive_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with corrupt-record capture: a feed whose
    producer occasionally emits garbage lines is read with an explicit
    schema plus `_corrupt_record` — bad lines land intact in the audit
    column (null fields elsewhere) instead of killing the job
    (FAILFAST) or vanishing (DROPMALFORMED). The returned reconciliation
    row proves no good row was lost and every bad line was captured —
    the at-scale policy where one malformed line in 100 TB must neither
    abort nor silently drop. Quarantined lines go to a dead-letter
    table in production; the count is the monitoring signal.

    The corrupt column must be materialized via a checkpoint before
    filtering on it: Spark refuses queries that filter ONLY on
    _corrupt_record over a raw scan (the column is populated during
    parsing, not pushdown-safe)."""
    o = (load_table(spark, "orders", sf_dir)
         .where(F.col("o_orderkey") % 5 == 0)
         .select("o_orderkey", "o_totalprice"))

    def build(tmp: str) -> None:
        o.coalesce(1).write.mode("overwrite").csv(tmp)
        import glob as _glob
        part = _glob.glob(os.path.join(tmp, "part-*.csv"))[0]
        with open(part, "a") as fh:
            for i in range(_N_BAD_LINES):
                fh.write(f"garbage_line_{i},not,a,number,{{x}}\n")
        # the append invalidates Hadoop's sidecar checksums — drop them
        # (the LocalFS reader otherwise fails the whole file)
        for crc in _glob.glob(os.path.join(tmp, ".*.crc")):
            os.remove(crc)

    out = _cached_dataset("orders_csv_corrupt", sf_dir, "orders", build)
    schema = ("o_orderkey BIGINT, o_totalprice DOUBLE, "
              "_corrupt_record STRING")
    back = (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .csv(out)
            .localCheckpoint(eager=False))
    good = F.col("_corrupt_record").isNull()
    return back.agg(
        F.count(F.when(good, F.lit(1))).cast("bigint").alias("n_good"),
        F.count(F.when(~good, F.lit(1))).cast("bigint").alias("n_corrupt"),
        F.sum(F.when(good, iround(F.col("o_totalprice") * 100)))
        .cast("bigint").alias("good_cents"))


# ---------------------------------------------------------------------------
# CSV quoting/escaping round trip (round 5, batch 8)
# ---------------------------------------------------------------------------

_CSV_QUOTES_ORACLE = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_ok
FROM documents GROUP BY lang
"""


def _csv_adversarial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents recast with a value that embeds every CSV hazard at
    once: a field separator, a quoted quote, and a record separator."""
    return load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang",
        F.concat(F.col("source"), F.lit(',"'), F.substring("text", 1, 40),
                 F.lit('"\n'), F.col("lang")).alias("tricky"))


@register("sink_csv_roundtrip_quotes", oracle=_CSV_QUOTES_ORACLE)
def sink_csv_roundtrip_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV SINK round trip under adversarial content: every row's value
    embeds a comma, an embedded double quote, and a NEWLINE — the three
    things that corrupt naive CSV interchange. Written RFC-4180-style
    (quote-doubling via escape='"'), read back with an explicit schema
    and multiLine=true (embedded newlines make records span physical
    lines, so splittable line-by-line parsing is off the table), then
    value-compared against the source row by row: n_ok must equal
    n_rows in every language group, proving the serde is lossless —
    the property an export-to-annotation-UI / re-ingest loop depends
    on. Complements sink_jsonl_roundtrip (typed round trip) and
    scan_csv_permissive_corrupt (malformed-input policy): this one is
    about WELL-FORMED but hostile content.

    Scale shape: one sink pass + one source pass; the audit join is
    keyed on doc_id. The multiLine caveat IS the scale lesson: quoted
    newlines force whole-file parse units, so at 100 TB the writer
    must emit many files (it does — one per task) to keep read
    parallelism."""
    def build(tmp: str) -> None:
        (_csv_adversarial(spark, sf_dir)
         .write.mode("overwrite")
         .option("header", True).option("escape", '"').csv(tmp))

    out = _cached_dataset("documents_csv_quotes", sf_dir, "documents", build)
    back = (spark.read.schema("doc_id bigint, lang string, tricky string")
            .option("header", True).option("escape", '"')
            .option("multiLine", True).csv(out)
            .select("doc_id", F.col("tricky").alias("tricky_back")))
    src = _csv_adversarial(spark, sf_dir)
    return (src.join(back, "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.sum(F.when(F.col("tricky") == F.col("tricky_back"), 1)
                       .otherwise(0)).cast("bigint").alias("n_ok")))


# ---------------------------------------------------------------------------
# SQL column DEFAULT values (round 5, batch 11)
# ---------------------------------------------------------------------------

_DEFAULTS_ORACLE = """
SELECT o_orderkey, 'new' AS status, CAST(100 AS BIGINT) AS score
FROM orders WHERE o_orderkey < 400
"""


@register("sql_column_defaults", oracle=_DEFAULTS_ORACLE)
def sql_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN DEFAULT values (Spark 3.4+ `CREATE TABLE ... DEFAULT expr`):
    omitted columns materialize their declared defaults at INSERT time —
    the schema-evolution / workflow-state pattern (status='new',
    score=100) every ingestion table uses so writers never spell
    constants. The insert deliberately names ONLY the key column, so
    every default column in the read-back is proof the catalog applied
    the declaration; the oracle recomputes the same rows as constants
    over the source slice.

    Scale shape: defaults are resolved at WRITE time into plain column
    values — readers pay nothing, and the parquet files are
    indistinguishable from explicitly-written ones (no runtime default
    resolution on the scan path, unlike formats that patch at read)."""
    # name-space by sf_tag like catalog_analyze_stats/ensure_bucketed_tables:
    # two processes at different scale factors share the warehouse dir, and
    # a fixed table name would let their DROP/CREATE/INSERT interleave
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    tbl = f"lts_defaults_state_{sf_tag}"
    drop_managed_table(spark, tbl)
    spark.sql(f"""
        CREATE TABLE {tbl} (
          o_orderkey BIGINT,
          status STRING DEFAULT 'new',
          score BIGINT DEFAULT 100) USING parquet
    """)
    spark.sql(f"""
        INSERT INTO {tbl} (o_orderkey)
        SELECT o_orderkey FROM {{orders}} WHERE o_orderkey < 400
    """, orders=load_table(spark, "orders", sf_dir))
    return spark.table(tbl).select("o_orderkey", "status", "score")


# ---------------------------------------------------------------------------
# nested-field predicate pushdown (round 5, batch 13)
# ---------------------------------------------------------------------------

_NESTED_PP_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events WHERE user_id < 50
"""


@register("scan_nested_predicate_pushdown", oracle=_NESTED_PP_ORACLE)
def scan_nested_predicate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown INTO a nested struct field: a filter on
    `who.uid` must reach the parquet reader as a pushed filter on the
    nested column, not evaluate post-scan. The struct-shaped dataset is
    built once from events (same discipline as scan_nested_struct_
    pruning, which covers the PROJECTION side; this op covers the
    FILTER side — both halves of nested-column IO elision). At 100 TB
    nested event payloads are the norm, and an engine that only prunes
    flat columns re-reads every struct page a query filters on.
    tests/test_plans.py pins `LessThan(who.uid,50)` in PushedFilters;
    the oracle recomputes from the flat source."""
    def build(tmp: str) -> None:
        (load_table(spark, "events", sf_dir)
         .select("event_id",
                 F.struct(F.col("user_id").alias("uid"),
                          F.col("event_type").alias("etype")).alias("who"),
                 "value")
         .write.mode("overwrite").parquet(tmp))

    out = _cached_dataset("events_nested_struct", sf_dir, "events", build)
    back = spark.read.parquet(out).where(F.col("who.uid") < 50)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.sum(iround(F.col("value") * 100)).cast("bigint").alias("cents"))


# ---------------------------------------------------------------------------
# typed partition discovery (round 5, batch 13)
# ---------------------------------------------------------------------------

_PART_DISC_ORACLE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(user_id % 4 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY CAST(CAST(ts AS DATE) AS VARCHAR), CAST(user_id % 4 AS BIGINT)
"""


@register("source_partition_discovery_types", oracle=_PART_DISC_ORACLE)
def source_partition_discovery_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition DISCOVERY with TYPE inference: a dataset
    written as `day=2024-01-07/bucket=3/` directories reads back with
    `day` as a real DATE and `bucket` as a real INT — recovered from
    the PATH, not the files (the files don't even contain those
    columns). This is the lake-layout contract scan_partition_pruning
    builds on: pruning only works because discovery typed the partition
    values, so a `day >= DATE'...'` predicate compares dates, not
    strings. The aggregate groups BY the discovered columns, proving
    values and types both survived the directory round trip.

    Scale shape: partition values come from directory listings (driver
    metadata), never from file reads — a 100 TB table's partition
    columns cost zero data IO."""
    def build(tmp: str) -> None:
        (load_table(spark, "events", sf_dir)
         .select("event_id", "value", F.col("ts").cast("date").alias("day"),
                 (F.col("user_id") % 4).alias("bucket"))
         .write.mode("overwrite").partitionBy("day", "bucket").parquet(tmp))

    out = _cached_dataset("events_partition_disc", sf_dir, "events", build)
    back = spark.read.parquet(out)
    # the discovered types ARE the test: day must group as a DATE and
    # bucket as an integer; a string-typed discovery would still pass a
    # count but change the cast semantics below
    return (back.groupBy(F.col("day").cast("string").alias("day"),
                         F.col("bucket").cast("bigint").alias("bucket"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.sum(iround(F.col("value") * 100)).cast("bigint")
                 .alias("cents")))


# ---------------------------------------------------------------------------
# parquet aggregate pushdown (round 5, batch 14)
# ---------------------------------------------------------------------------

_AGG_PUSH_ORACLE = """
SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
"""


@register("scan_aggregate_pushdown", oracle=_AGG_PUSH_ORACLE)
def scan_aggregate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet AGGREGATE pushdown (DataSource V2): MIN / MAX / COUNT(*)
    answered from row-group FOOTER STATISTICS — the scan reads metadata
    pages only, never data pages. On a 100 TB table, `SELECT min(k),
    max(k), count(*)` drops from a full-table read to a footer sweep;
    this is the third member of the metadata-elision family beside
    scan_count_metadata_only (V1 count-star) and the zone-map sink.
    The plan shows `PushedAggregation: [MIN(o_orderkey),
    MAX(o_orderkey), COUNT(*)]` with the V2 reader active
    (tests/test_plans.py pins it).

    Conf discipline: the V2 parquet path and aggregatePushdown are
    enabled ONLY for this query's planning and materialization (eager
    localCheckpoint), then restored — plan shapes pinned by every other
    test keep seeing the default V1 reader."""
    v1_key = "spark.sql.sources.useV1SourceList"
    v1 = ",".join(s for s in spark.conf.get(v1_key).split(",")
                  if s and s != "parquet")
    with scoped_conf(spark, {"spark.sql.parquet.aggregatePushdown": "true",
                             v1_key: v1}):
        df = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
              .agg(F.min("o_orderkey").cast("bigint").alias("min_key"),
                   F.max("o_orderkey").cast("bigint").alias("max_key"),
                   F.count(F.lit(1)).cast("bigint").alias("n")))
        # materialize under the V2 confs — the lazy plan would otherwise
        # resolve AFTER the scope restores V1
        return df.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# parquet field-ID rename evolution (round 5, batch 16)
# ---------------------------------------------------------------------------

_FIELDID_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(order_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(floor(total_price * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM (SELECT o_orderkey AS order_id, o_totalprice AS total_price
      FROM orders WHERE o_orderkey < 2000)
"""


@register("scan_fieldid_rename_evolution", oracle=_FIELDID_ORACLE)
def scan_fieldid_rename_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN RENAME schema evolution via parquet FIELD IDs — the
    lakehouse mechanism (Iceberg-style) that makes renames metadata-only:
    columns are matched by a stable numeric id written into the parquet
    schema, not by name, so files written before a rename keep serving
    after it with zero rewrite. The dataset is written with field ids
    (1, 2) under the OLD names and read back under entirely NEW names
    carrying the same ids; values surviving the rename is the proof
    name-matching was bypassed. Complements scan_schema_evolution
    (add-column by name) — rename is exactly the case name-based
    evolution CANNOT express (it sees a drop + an unrelated add).

    Conf discipline: fieldId write/read confs are scoped to this
    query's build and materialization (eager checkpoint), then
    restored."""
    with scoped_conf(spark, {"spark.sql.parquet.fieldId.write.enabled": "true",
                             "spark.sql.parquet.fieldId.read.enabled": "true"}):
        def build(tmp: str) -> None:
            (load_table(spark, "orders", sf_dir)
             .where(F.col("o_orderkey") < 2000)
             .select(F.col("o_orderkey").alias(
                         "o_orderkey", metadata={"parquet.field.id": 1}),
                     F.col("o_totalprice").alias(
                         "o_totalprice", metadata={"parquet.field.id": 2}))
             .write.mode("overwrite").parquet(tmp))

        out = _cached_dataset("orders_fieldid", sf_dir, "orders", build)
        from pyspark.sql.types import (DoubleType, LongType, StructField,
                                       StructType)
        renamed = StructType([
            StructField("order_id", LongType(), True,
                        {"parquet.field.id": 1}),
            StructField("total_price", DoubleType(), True,
                        {"parquet.field.id": 2})])
        back = spark.read.schema(renamed).parquet(out)
        return back.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("order_id").cast("bigint").alias("id_sum"),
            F.sum(iround(F.col("total_price") * 100)).cast("bigint")
            .alias("cents")).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# maxRecordsPerFile sink governance (round 5, batch 16)
# ---------------------------------------------------------------------------

_MRPF_CAP = 150

_MRPF_ORACLE = f"""
SELECT CAST(CAST(CEIL(COUNT(*) / {_MRPF_CAP}.0) AS BIGINT) AS BIGINT)
         AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey < 2000
"""


@register("sink_max_records_per_file", oracle=_MRPF_ORACLE)
def sink_max_records_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`maxRecordsPerFile` — the writer-side FILE-SIZE governor: cap the
    rows per output file so one fat task cannot emit a multi-GB file
    that downstream readers can't split. At 100 TB this is half of the
    small-files story (sink_compaction_small_files is the other half:
    too many small files; this prevents too-few huge ones). With the
    write coalesced to ONE task the file count is exactly
    ceil(rows / cap) — the oracle computes that closed form, and the
    engine-side count comes from distinct input_file_name() on the
    read-back, so the round trip proves the cap was enforced, not just
    configured. Content checksum rides along.

    Scale shape: the cap applies per task, streaming — no extra pass;
    at fleet scale it composes with REBALANCE (sql_hint_rebalance) for
    even file sizes."""
    def build(tmp: str) -> None:
        (load_table(spark, "orders", sf_dir)
         .where(F.col("o_orderkey") < 2000)
         .repartition(1).write.mode("overwrite")
         .option("maxRecordsPerFile", _MRPF_CAP).parquet(tmp))

    out = _cached_dataset("orders_mrpf", sf_dir, "orders", build)
    # project the (nondeterministic-by-declaration) file name FIRST —
    # Spark refuses it directly inside an aggregate function
    back = spark.read.parquet(out).select(
        "o_orderkey", F.input_file_name().alias("f"))
    return (back.agg(
        F.countDistinct("f").cast("bigint").alias("n_files"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum")))


# ---------------------------------------------------------------------------
# native XML connector (round 6)
# ---------------------------------------------------------------------------

_XML_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events WHERE event_id < 2000
GROUP BY event_type
"""


@register("source_xml", oracle=_XML_ORACLE)
def source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML connector (Spark 4 built-in, no external package):
    write → read round trip with an explicit rowTag and schema. XML is
    the format B2B/feed ingestion still arrives in; the native reader
    makes it a first-class distributed source (splittable by rowTag
    across files). Money crosses the text boundary as exact integer
    cents — the same lossless-cents discipline as source_csv — and the
    read uses an explicit schema + FAILFAST so a malformed feed dies at
    the edge. Bounded slice (event_id < 2000) keeps the fixture small;
    the oracle recomputes from the parquet source."""
    ev = load_table(spark, "events", sf_dir).where(F.col("event_id") < 2000)
    out = _cached_dataset(
        "events_xml", sf_dir, "events",
        lambda tmp: (ev.select("event_id", "user_id", "event_type",
                               iround(F.col("value") * 100).alias("cents"))
                     .write.mode("overwrite")
                     .option("rowTag", "event").format("xml").save(tmp)))
    schema = ("event_id bigint, user_id bigint, event_type string, "
              "cents bigint")
    back = (spark.read.schema(schema).option("rowTag", "event")
            .option("mode", "FAILFAST").format("xml").load(out))
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.sum("event_id").cast("bigint").alias("id_sum"),
                 F.sum("cents").cast("bigint").alias("cents")))


# ---------------------------------------------------------------------------
# recursive file lookup + glob filter (round 6)
# ---------------------------------------------------------------------------

_RECURSIVE_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(user_id) AS BIGINT) AS user_sum
FROM events
GROUP BY event_type
"""


@register("source_recursive_glob", oracle=_RECURSIVE_ORACLE)
def source_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`recursiveFileLookup` + `pathGlobFilter`: ingest a lake prefix
    whose layout is NOT hive-partitioned (vendor drops, log shippers,
    rescued data) — files nested at arbitrary depth, mixed with sidecar
    files the glob must skip. recursiveFileLookup deliberately DISABLES
    partition inference, so the fixture writes the grouping columns into
    the files themselves (dir names are opaque nesting, exactly the
    untrusted-layout contract). The glob keeps *.parquet and skips the
    planted sidecar .txt. At 100 TB this read is listing-bound — the
    recursive listing is distributed in Spark, and the glob prunes
    before any footer is opened."""
    ev = load_table(spark, "events", sf_dir)

    def build(tmp: str) -> None:
        (ev.select("event_id", "user_id", "event_type",
                   F.col("event_type").alias("etype_dir"),
                   (F.col("user_id") % 2).cast("int").alias("half_dir"))
         .write.mode("overwrite")
         .partitionBy("etype_dir", "half_dir").parquet(tmp))
        # sidecar the glob must skip (a manifest/log shipper artifact)
        with open(os.path.join(tmp, "_vendor_manifest.txt"), "w") as fh:
            fh.write("not data\n")

    out = _cached_dataset("events_nested_dirs", sf_dir, "events", build)
    back = (spark.read
            .option("recursiveFileLookup", True)
            .option("pathGlobFilter", "*.parquet")
            .parquet(out))
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.sum("user_id").cast("bigint").alias("user_sum")))


# ---------------------------------------------------------------------------
# multiline (JSON-array) document source (round 6)
# ---------------------------------------------------------------------------

_MULTILINE_ORACLE = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders WHERE o_orderkey < 2000
GROUP BY o_orderstatus
"""


@register("source_json_multiline", oracle=_MULTILINE_ORACLE)
def source_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`multiLine` JSON: one file holding a single JSON ARRAY of records
    (the shape REST exports and config dumps arrive in), as opposed to
    source_jsonl's line-delimited form. The critical 100 TB caveat is
    IN the op: a multiline JSON document is NOT splittable — one file =
    one task — so this reader exists for bounded ingest edges
    (API snapshots), and the first thing the pipeline does is rewrite
    into a splittable format; jsonl/parquet remain the scale path. The
    fixture builds the array with to_json(collect_list(struct(...)))
    (single bounded row), money as exact cents."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 2000)
    out = _cached_dataset(
        "orders_json_array", sf_dir, "orders",
        lambda tmp: (o.select(F.struct(
            "o_orderkey", "o_custkey", "o_orderstatus",
            iround(F.col("o_totalprice") * 100).alias("cents")).alias("r"))
            .agg(F.to_json(F.sort_array(F.collect_list("r"))).alias("j"))
            .coalesce(1).write.mode("overwrite").text(tmp)))
    schema = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
              "cents bigint")
    back = (spark.read.schema(schema).option("multiLine", True)
            .option("mode", "FAILFAST").json(out))
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                 F.sum("cents").cast("bigint").alias("cents")))


# ---------------------------------------------------------------------------
# gzip-compressed JSONL source (round 6)
# ---------------------------------------------------------------------------

_JSONL_GZ_ORACLE = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM documents
GROUP BY source
"""


@register("source_jsonl_gzip", oracle=_JSONL_GZ_ORACLE)
def source_jsonl_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed JSONL round trip — the format most scraped/vendor
    corpora actually arrive in (.jsonl.gz per shard). Spark's text
    codecs decompress transparently on read, so the op is the same
    explicit-schema discipline as source_jsonl; the caveat it exists to
    document is SPLITTABILITY: a .gz file is one stream, so ONE TASK
    reads the whole shard regardless of its size — parallelism at 100 TB
    comes from SHARD COUNT, not byte ranges (the fixture writes multiple
    shards via repartition(4); a single 1 TB .gz would serialize; the
    fix at the edge is many medium shards or zstd/bzip2, then parquet
    immediately). Verified by per-source counts/sums against the
    parquet-side oracle.

    Scale shape: read parallelism == shard count by construction; the
    aggregate is one combinable groupBy."""
    out = _cached_dataset(
        "docs_jsonl_gz", sf_dir, "documents",
        lambda tmp: (load_table(spark, "documents", sf_dir)
                     .repartition(4)
                     .write.mode("overwrite")
                     .option("compression", "gzip").json(tmp)))
    schema = ("doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    back = spark.read.schema(schema).json(out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("id_sum"))


# ---------------------------------------------------------------------------
# partition-spec evolution read (round 6)
# ---------------------------------------------------------------------------

_SPEC_EVO_ORACLE = """
WITH ev AS (
  SELECT *, CAST(ts AS DATE) AS day, hour(ts) AS hr FROM events
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100, 0) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS purchase_cents
FROM ev
WHERE day BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
GROUP BY CAST(day AS VARCHAR)
"""


@register("scan_partition_spec_evolution", oracle=_SPEC_EVO_ORACLE)
def scan_partition_spec_evolution(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Partition-SPEC evolution: the first half of the month sits in an
    OLD layout partitioned by day=...; the second half in the NEW
    layout partitioned by day=.../hr=... (the real-lake migration where
    the spec changed mid-history and nobody rewrites 50 TB of old
    files). The engine reads both specs, aligns them by name (the old
    data has no hr partition column -- it reconstitutes from ts), and a
    day-range filter must PRUNE DIRECTORIES in both layouts -- day-grain
    in the old, day-grain (all hour subdirs) in the new. Iceberg/Delta
    hide this behind spec versioning; on plain parquet it is exactly
    this two-read union, which is why the op exists.

    Scale shape: partition pruning bounds the scan to 3 days of
    directories in each layout regardless of history length; the rollup
    is one combinable groupBy."""
    ev = load_table(spark, "events", sf_dir)
    base = ev.select("event_id", "ts", "event_type",
                     round_cents("value").alias("cents"),
                     F.date_format("ts", "yyyy-MM-dd").alias("day"),
                     F.hour("ts").alias("hr"))
    old_part = base.where(F.col("day") <= "2024-01-15")
    new_part = base.where(F.col("day") > "2024-01-15")
    out = _cached_dataset(
        "spec_evo", sf_dir, "events",
        lambda tmp: (
            old_part.write.partitionBy("day")
            .mode("overwrite").parquet(os.path.join(tmp, "v1")),
            new_part.write.partitionBy("day", "hr")
            .mode("overwrite").parquet(os.path.join(tmp, "v2")))[-1])
    v1 = spark.read.parquet(os.path.join(out, "v1"))
    v2 = spark.read.parquet(os.path.join(out, "v2"))
    # partition-column type inference parses day=2024-01-10 back as
    # DATE; the portable projection is the string it was written as
    v1 = v1.withColumn("day", F.col("day").cast("string"))
    v2 = v2.withColumn("day", F.col("day").cast("string"))
    # old spec has no hr partition column: reconstitute from ts so both
    # generations share one schema (name-aligned union)
    v1 = v1.withColumn("hr", F.hour("ts"))
    unioned = v1.unionByName(v2.select(*v1.columns))
    return (unioned
            .where((F.col("day") >= "2024-01-10")
                   & (F.col("day") <= "2024-01-12"))
            .groupBy("day")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.sum(F.when(F.col("event_type") == "purchase",
                              F.col("cents")).otherwise(F.lit(0)))
                 .cast("bigint").alias("purchase_cents")))


# ---------------------------------------------------------------------------
# transactional commit-log table (Delta/Iceberg log layer, stripped to core)
# ---------------------------------------------------------------------------

_TXLOG_ORACLE = """
SELECT CAST(0 AS BIGINT) AS snapshot_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
FROM orders WHERE o_orderkey % 3 IN (1, 2)
"""


def txlog_commit(root: str, actions: list[dict]) -> int:
    """Optimistic-concurrency commit: serialize `actions` to a temp file,
    then atomically rename it to the NEXT version slot; on collision
    (another writer won that version) re-read the log head and retry —
    the Delta-protocol core. Returns the committed version."""
    import json as _json
    import os as _os
    import uuid as _uuid

    log = _os.path.join(root, "_txlog")
    _os.makedirs(log, exist_ok=True)
    while True:
        versions = [int(f.split(".")[0]) for f in _os.listdir(log)
                    if f.endswith(".json")]
        nxt = (max(versions) + 1) if versions else 0
        tmp = _os.path.join(log, f".tmp-{_uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            _json.dump({"version": nxt, "actions": actions}, fh)
        final = _os.path.join(log, f"{nxt:05d}.json")
        try:
            _os.link(tmp, final)          # atomic create-if-absent
            _os.unlink(tmp)
            return nxt
        except FileExistsError:
            _os.unlink(tmp)               # lost the race: retry at nxt+1


def txlog_snapshot_files(root: str, version: int) -> list[str]:
    """Replay add/remove actions through `version` (inclusive)."""
    import json as _json
    import os as _os

    log = _os.path.join(root, "_txlog")
    live: set[str] = set()
    for v in sorted(int(f.split(".")[0]) for f in _os.listdir(log)
                    if f.endswith(".json")):
        if v > version:
            break
        for act in _json.load(open(_os.path.join(log, f"{v:05d}.json")))["actions"]:
            if act["op"] == "add":
                live.add(act["path"])
            elif act["op"] == "remove":
                live.discard(act["path"])
    return [_os.path.join(root, p) for p in sorted(live)]


def _txlog_fixture(spark: SparkSession, sf_dir: str) -> str:
    def build(tmp: str) -> None:
        import os as _os
        o = load_table(spark, "orders", sf_dir)
        for i, mod in enumerate((0, 1, 2)):
            (o.where(F.pmod("o_orderkey", F.lit(3)) == mod)
             .write.mode("overwrite")
             .parquet(_os.path.join(tmp, f"batch{mod}")))
        # v0: add batch0; v1: add batch1; v2: remove batch0, add batch2
        assert txlog_commit(tmp, [{"op": "add", "path": "batch0"}]) == 0
        assert txlog_commit(tmp, [{"op": "add", "path": "batch1"}]) == 1
        assert txlog_commit(tmp, [{"op": "remove", "path": "batch0"},
                                  {"op": "add", "path": "batch2"}]) == 2

    return _cached_dataset("txlog_orders", sf_dir, "orders", build)


@register("scan_txlog_snapshot", oracle=_TXLOG_ORACLE)
def scan_txlog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional commit-log table format, stripped to the Delta/
    Iceberg core the manifest op (scan_time_travel_manifest) deliberately
    left out: an ordered JSON ACTION log (add-file / remove-file) under
    `_txlog/`, snapshots defined by REPLAYING the log (so REMOVE gives
    compaction/DELETE semantics without touching data files), and
    optimistic concurrency via atomic create-if-absent on the next
    version slot — `txlog_commit` retries on collision exactly like the
    Delta protocol (raced in tests/test_txlog.py with concurrent
    committers; every version lands exactly once). Three snapshots read
    back through the log: v0 = batch0, v1 = batch0+batch1,
    v2 = (batch0 removed) batch1+batch2 — time travel AND logical delete
    in one value-exact report.

    Scale shape: the log is driver-side metadata (bytes scale with
    commit count, never data size); snapshot reads plan
    `spark.read.parquet(*files)` so pushdown/pruning/statistics work
    unchanged; commits never rewrite data files."""
    root = _txlog_fixture(spark, sf_dir)
    schema = load_table(spark, "orders", sf_dir).schema

    def snap(v: int) -> DataFrame:
        return (spark.read.schema(schema)
                .parquet(*txlog_snapshot_files(root, v))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                     F.sum("o_orderkey").cast("bigint").alias("key_sum"))
                .select(F.lit(v).cast("bigint").alias("snapshot_id"),
                        "n_rows", "key_sum"))

    return snap(0).unionByName(snap(1)).unionByName(snap(2))


# ---------------------------------------------------------------------------
# commit-log checkpointing (O(1) metadata reads under long histories)
# ---------------------------------------------------------------------------

_TXLOG_CKPT_ORACLE = """
SELECT 'checkpoint' AS read_path, CAST(3 AS BIGINT) AS snapshot_version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
UNION ALL
SELECT 'replay', CAST(3 AS BIGINT),
       CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
FROM orders
"""


def txlog_write_checkpoint(root: str, version: int) -> None:
    """Materialize the live-file set at `version` into
    `_txlog_ckpt/{version:05d}.json` — the Delta checkpoint-parquet
    idea: later readers replay only commits AFTER the checkpoint.
    Kept in a sibling directory so the plain commit log (and its
    version-slot race) is untouched."""
    import json as _json
    import os as _os

    live = [_os.path.relpath(p, root)
            for p in txlog_snapshot_files(root, version)]
    ckpt = _os.path.join(root, "_txlog_ckpt")
    _os.makedirs(ckpt, exist_ok=True)
    tmp = _os.path.join(ckpt, f".tmp-{version:05d}")
    with open(tmp, "w") as fh:
        _json.dump({"version": version, "live": sorted(live)}, fh)
    _os.replace(tmp, _os.path.join(ckpt, f"{version:05d}.json"))


def txlog_snapshot_files_ckpt(root: str, version: int) -> list[str]:
    """Snapshot via the LATEST checkpoint ≤ `version`, replaying only
    the commit tail after it — O(tail) metadata reads instead of
    O(history)."""
    import json as _json
    import os as _os

    ckpt_dir = _os.path.join(root, "_txlog_ckpt")
    base_v, live = -1, set()
    if _os.path.isdir(ckpt_dir):
        versions = [int(f.split(".")[0]) for f in _os.listdir(ckpt_dir)
                    if f.endswith(".json") and not f.startswith(".")]
        usable = [v for v in versions if v <= version]
        if usable:
            base_v = max(usable)
            doc = _json.load(open(_os.path.join(ckpt_dir,
                                                f"{base_v:05d}.json")))
            live = set(doc["live"])
    log = _os.path.join(root, "_txlog")
    for v in sorted(int(f.split(".")[0]) for f in _os.listdir(log)
                    if f.endswith(".json")):
        if v <= base_v or v > version:
            continue
        doc = _json.load(open(_os.path.join(log, f"{v:05d}.json")))
        for act in doc["actions"]:
            if act["op"] == "add":
                live.add(act["path"])
            elif act["op"] == "remove":
                live.discard(act["path"])
    return [_os.path.join(root, p) for p in sorted(live)]


def _txlog_ckpt_fixture(spark: SparkSession, sf_dir: str) -> str:
    def build(tmp: str) -> None:
        import os as _os
        o = load_table(spark, "orders", sf_dir)
        for mod in (0, 1, 2):
            (o.where(F.pmod("o_orderkey", F.lit(3)) == mod)
             .write.mode("overwrite")
             .parquet(_os.path.join(tmp, f"batch{mod}")))
        assert txlog_commit(tmp, [{"op": "add", "path": "batch0"}]) == 0
        assert txlog_commit(tmp, [{"op": "add", "path": "batch1"}]) == 1
        assert txlog_commit(tmp, [{"op": "remove", "path": "batch0"},
                                  {"op": "add", "path": "batch2"}]) == 2
        txlog_write_checkpoint(tmp, 2)
        # the post-checkpoint tail the checkpoint reader must still see
        assert txlog_commit(tmp, [{"op": "add", "path": "batch0"}]) == 3

    return _cached_dataset("txlog_ckpt_orders", sf_dir, "orders", build)


@register("scan_txlog_checkpoint", oracle=_TXLOG_CKPT_ORACLE)
def scan_txlog_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log CHECKPOINTING — the piece that makes
    scan_txlog_snapshot's format viable under long histories: a
    checkpoint file materializes the live-file set at version V, so a
    reader replays only the commit tail AFTER V (Delta's
    checkpoint-parquet idea; without it, every read is O(all commits) —
    at one commit per minute that is half a million JSON files after a
    year). The fixture commits v0–v2, checkpoints at 2, then commits
    v3 (re-adding the file v2 removed); the query reads snapshot v3
    through BOTH paths — checkpoint + tail, and full replay — and the
    oracle pins both to the exact full-table contents, so
    checkpoint-path equivalence IS the verified property.

    Scale shape: checkpoints are driver-side metadata (bytes scale
    with live-file count, never data size); data files are never
    rewritten; the snapshot still plans `spark.read.parquet(*files)`
    so pushdown/pruning work unchanged."""

    root = _txlog_ckpt_fixture(spark, sf_dir)
    schema = load_table(spark, "orders", sf_dir).schema

    def snap(path_name: str, files: list[str]) -> DataFrame:
        return (spark.read.schema(schema).parquet(*files)
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                     F.sum("o_orderkey").cast("bigint").alias("key_sum"))
                .select(F.lit(path_name).alias("read_path"),
                        F.lit(3).cast("bigint").alias("snapshot_version"),
                        "n_rows", "key_sum"))

    via_ckpt = txlog_snapshot_files_ckpt(root, 3)
    via_replay = txlog_snapshot_files(root, 3)
    return (snap("checkpoint", via_ckpt)
            .unionByName(snap("replay", via_replay)))
