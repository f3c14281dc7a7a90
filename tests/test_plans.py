"""Plan-shape regression tests (SURVEY.md §4/§5): assert the physical plans
have the properties that keep these queries viable at 100 TB — pushdown
reaching the parquet reader, dims broadcast, top-k fused, window queries
shuffling exactly once."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from lambdatotheslaughter_spark import registry
from lambdatotheslaughter_spark.plans import checks
from lambdatotheslaughter_spark.session import scoped_conf
from tests.conftest import SF_DIR


def _df(name):
    return registry.get(name).fn(spark_global, SF_DIR)


spark_global = None


def setup_module(module):
    global spark_global
    from lambdatotheslaughter_spark.session import get_spark
    spark_global = get_spark("lts-plan-tests")


def test_predicate_pushdown_reaches_scan():
    df = _df("scan_predicate_pushdown")
    assert checks.has_pushed_filter(df, "GreaterThanOrEqual(l_shipdate"), \
        checks.executed_plan(df)


def test_projection_prunes_read_schema():
    cols = checks.read_schema_columns(_df("scan_projection_pushdown"))
    assert cols == ["l_orderkey", "l_quantity"], cols


def test_q1_reads_only_needed_columns():
    cols = checks.read_schema_columns(_df("agg_pricing_summary"))
    assert set(cols) == {"l_quantity", "l_extendedprice", "l_discount", "l_tax",
                         "l_returnflag", "l_linestatus", "l_shipdate"}, cols


def test_broadcast_join_is_broadcast():
    assert checks.has_broadcast_join(_df("join_broadcast"))


def test_star_join_broadcasts_dims():
    df = _df("join_multiway_star")
    plan = checks.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_topk_fuses_to_take_ordered():
    assert checks.has_take_ordered(_df("topk_global"))


def test_window_topk_single_shuffle():
    # one exchange for the join side + one for the window partitioning; the
    # window itself must not add extra exchanges
    df = _df("win_topk_per_group")
    assert checks.count_shuffles(df) <= 3, checks.executed_plan(df)


def test_codegen_covers_relational_core():
    assert checks.wholestage_codegen_spans(_df("agg_pricing_summary")) >= 1


def test_partition_pruning_reads_3_of_30_dirs():
    # make sure the partitioned copy exists (the query creates it on demand)
    _df("scan_partition_pruning").collect()
    from lambdatotheslaughter_spark.operators.scans import cached_dataset_path
    part_dir = cached_dataset_path("events_by_date", SF_DIR, "events")
    all_parts = len(glob.glob(os.path.join(part_dir, "event_date=*")))
    assert all_parts >= 28, f"partitioned copy missing: {all_parts} dirs"
    pf = checks.partition_filters(_df("scan_partition_pruning"))
    assert "event_date" in pf and "2024-01-10" in pf and "2024-01-12" in pf, (
        f"date bounds not in PartitionFilters (planning-time pruning lost): {pf}")


def test_watermark_replay_has_no_full_table_single_partition_window():
    """The watermark replay's only single-partition stage must be the
    chunk-summary window: every 'Exchange SinglePartition' in the executed
    plan must sit above a HashAggregate (the per-chunk max), never directly
    above an events scan — a per-row running max runs all events through
    one task."""
    df = _df("stream_watermark_late")
    df.collect()  # AQE final plan
    plan = checks.executed_plan(df)
    lines = plan.splitlines()
    sp_idx = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert sp_idx, "expected the chunk-summary window's single-partition exchange"
    for i in sp_idx:
        # in toString children print BELOW parents: between this exchange and
        # the scan that feeds it there must be an aggregation
        below = "\n".join(lines[i:])
        agg_pos = below.find("HashAggregate")
        scan_pos = below.find("FileScan")
        assert agg_pos != -1 and agg_pos < scan_pos, (
            f"single-partition exchange fed by a raw scan:\n{plan}")


def test_minhash_signature_is_shuffle_free():
    """The minhash signature stage must not shuffle (array_min formulation);
    the only exchanges allowed are the LSH candidate join + verify joins."""
    df = _df("llm_dedup_fuzzy_minhash")
    assert checks.count_shuffles(df) <= 6, checks.executed_plan(df)


def test_bucketed_join_has_zero_exchanges():
    """The whole point of bucketing: fact-fact join + same-key aggregation
    with NO shuffle anywhere in the executed plan."""
    df = _df("join_bucketed_colocated")
    df.collect()  # AQE final plan
    plan = checks.executed_plan(df)
    assert "Bucketed: true" in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange ") == 0, plan


def test_salted_join_spreads_hot_key():
    """Salted join result must match the plain join (oracle does), and the
    salted key must actually appear in the join condition."""
    df = _df("join_skew_salted")
    plan = checks.optimized_plan(df)
    assert "salt" in plan, plan


def test_stratified_sample_is_map_only():
    """Deterministic sampling must stay a pure map-side filter: zero
    all-to-all exchanges — the property that makes it free at 100 TB."""
    df = _df("llm_sample_stratified")
    df.collect()
    assert checks.count_shuffles(df) == 0, checks.executed_plan(df)


def test_contamination_broadcasts_benchmark_set():
    """The benchmark shingle set must broadcast; the corpus-side explode
    must never sort-merge on shingle (that would shuffle the corpus by
    n-gram — the anti-pattern decontamination exists to avoid)."""
    df = _df("llm_contamination_ngram")
    df.collect()
    plan = checks.executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pack_sequences_window_is_partitioned():
    """Sequence packing must never run the corpus through one task: no
    single-partition exchange anywhere (the cumsum window partitions by
    lang; the final groupBy hashes on (lang, seq_id))."""
    df = _df("llm_pack_sequences")
    df.collect()
    assert "Exchange SinglePartition" not in checks.executed_plan(df), \
        checks.executed_plan(df)


def test_rollup_expands_before_one_shuffle():
    """ROLLUP = Expand (3 grouping sets) + ONE hash-agg exchange; map-side
    partial aggregation must collapse each set before the wire."""
    df = _df("agg_rollup")
    df.collect()
    plan = checks.executed_plan(df)
    assert "Expand" in plan, plan
    assert checks.count_shuffles(df) <= 2, plan


def test_range_interval_window_is_partitioned():
    """The trailing-1h RANGE frame partitions by user_id — a global-order
    window here would serialize the whole events table through one task."""
    df = _df("win_range_interval")
    df.collect()
    assert "Exchange SinglePartition" not in checks.executed_plan(df), \
        checks.executed_plan(df)


def test_sorted_sink_layout_enables_file_skipping():
    """The sort-within-files layout must (a) keep the shipdate filter pushed
    to the scan and (b) concentrate late shipdates in a minority of files —
    footer (min,max) stats then let the reader skip the rest. Checked
    against the real parquet footers, not the plan string."""
    import datetime

    import pyarrow.parquet as pq

    df = _df("sink_sorted_data_skipping")
    df.collect()
    assert checks.has_pushed_filter(df, "GreaterThanOrEqual(l_shipdate"), \
        checks.executed_plan(df)
    from lambdatotheslaughter_spark.operators.scans import cached_dataset_path
    out = cached_dataset_path("lineitem_sorted", SF_DIR, "lineitem")
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) >= 4, f"expected a multi-file layout, got {len(files)}"
    cutoff = datetime.datetime(2001, 11, 1, tzinfo=datetime.timezone.utc)
    overlapping = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        fmax = max(md.row_group(i).column(2).statistics.max
                   for i in range(md.num_row_groups))
        if fmax.tzinfo is None:
            fmax = fmax.replace(tzinfo=datetime.timezone.utc)
        if fmax >= cutoff:
            overlapping += 1
    assert overlapping <= len(files) / 2, (
        f"{overlapping}/{len(files)} files overlap the filter — "
        "month-clustering failed, no file can be skipped")


def test_bm25_corpus_never_shuffled_by_term():
    """BM25's df table and corpus stats must broadcast; the only sort-merge
    joins allowed are on doc_id (doclen join) — a term-keyed shuffle of
    the corpus would be the scale anti-pattern retrieval scoring exists
    to avoid."""
    df = _df("llm_bm25_rank")
    df.collect()
    plan = checks.executed_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    for frag in plan.split("SortMergeJoin")[1:]:
        keys = frag.split("\n")[0]
        assert "doc_id" in keys, f"sort-merge join not on doc_id: {keys}"


def test_null_safe_join_is_hash_not_nested_loop():
    """`<=>` must plan as an equi hash/sort-merge join — a nested loop here
    means the planner stopped treating the null-safe operator as a key."""
    df = _df("join_null_safe_eq")
    df.collect()
    plan = checks.executed_plan(df)
    assert "NestedLoop" not in plan, plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan), plan


def test_chunk_overlap_is_shuffle_free():
    """Chunk-boundary derivation is pure per-row arithmetic + a generator:
    zero all-to-all exchanges."""
    df = _df("llm_chunk_overlap")
    df.collect()
    assert checks.count_shuffles(df) == 0, checks.executed_plan(df)


def test_multi_distinct_single_expand_shuffle():
    """Two COUNT(DISTINCT) columns must share one Expand-based aggregation,
    not run one job per distinct column."""
    df = _df("agg_multi_distinct")
    df.collect()
    plan = checks.executed_plan(df)
    assert "Expand" in plan, plan
    # two real exchanges (expand-key partial, final by group key); the AQE
    # final-plan toString prints the reused subtree twice, so the string
    # count doubles
    assert checks.count_shuffles(df) <= 4, plan


def test_domain_mix_broadcasts_rate_table():
    """The per-source rate table must broadcast — re-shuffling the corpus
    to meet a 20-row rates dim would be the anti-pattern."""
    df = _df("llm_domain_mix")
    df.collect()
    plan = checks.executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_compaction_collapses_file_count():
    """The compaction op must actually fix the small-files problem: the
    fragmented input is ≥32 files, the compacted rewrite ≤8 — and the
    compaction pass is a NARROW coalesce (no shuffle moved a row)."""
    from lambdatotheslaughter_spark.operators.scans import cached_dataset_path

    _df("sink_compaction_small_files").collect()
    frag = cached_dataset_path("lineitem_fragmented", SF_DIR, "lineitem")
    comp = cached_dataset_path("lineitem_compacted", SF_DIR, "lineitem")
    n_frag = len(glob.glob(os.path.join(frag, "*.parquet")))
    n_comp = len(glob.glob(os.path.join(comp, "*.parquet")))
    assert n_frag >= 32, f"fragmented fixture has only {n_frag} files"
    assert n_comp <= 8, f"compaction left {n_comp} files"


def test_metadata_columns_row_index_checksums(spark_also=None):
    """scan_metadata_columns is value-oracled (one file per
    partition key makes every column DuckDB-derivable); this gate pins
    the PHYSICAL claims the oracle encodes: each l_linenumber directory
    holds exactly one parquet file on disk, the operator saw exactly
    that file (n_files == 1), and sum(row_index) == n(n-1)/2 — the exact
    checksum of a correct contiguous 0..n-1 per-file numbering."""
    df = _df("scan_metadata_columns")
    rows = df.collect()
    assert len(rows) == 7, f"expected 7 l_linenumber groups, got {len(rows)}"
    for r in rows:
        n = r["n_rows"]
        assert r["n_files"] == 1, r
        assert r["row_index_sum"] == n * (n - 1) // 2, (
            f"l_linenumber={r['l_linenumber']}: row_index sum "
            f"{r['row_index_sum']} != {n * (n - 1) // 2} for {n} rows")
    from lambdatotheslaughter_spark.operators.scans import cached_dataset_path
    part = cached_dataset_path("lineitem_bykey", SF_DIR, "lineitem")
    for r in rows:
        files = glob.glob(os.path.join(
            part, f"l_linenumber={r['l_linenumber']}", "*.parquet"))
        assert len(files) == 1, (r["l_linenumber"], files)


def test_q1_shuffle_volume_is_group_state_only():
    """MEASURED shuffle-volume gate (not a plan-string read): q1 must
    collapse its 600k input rows to per-group partial-agg state before the
    wire — a few hundred bytes, not megabytes. If partial aggregation ever
    stops collapsing map-side (expression change, codegen fallback), this
    catches it as a 5-orders-of-magnitude jump."""
    df = _df("agg_pricing_summary")
    df.collect()
    m = checks.execution_metrics(df)
    assert m["input_rows"] >= 10_000, m  # 60k lineitem rows at test SF
    assert 0 < m["shuffle_bytes"] < 64 * 1024, (
        f"q1 shuffled {m['shuffle_bytes']} bytes — map-side collapse lost")
    assert m["shuffle_records"] <= 64, m


def test_star_join_ships_dims_not_facts():
    """The 6-table star must move dimensions by broadcast and (with
    partial aggregation) almost nothing by shuffle — measured, the fact
    table's megabytes never hit the wire."""
    df = _df("join_multiway_star")
    df.collect()
    m = checks.execution_metrics(df)
    assert m["broadcast_bytes"] > 0, m
    assert m["shuffle_bytes"] < 64 * 1024, (
        f"star join shuffled {m['shuffle_bytes']} bytes — a fact-side "
        "shuffle crept in")


def test_stratified_sample_moves_zero_shuffle_bytes():
    """llm_sample_stratified claims pure map-side; assert the measured
    counter, not just the plan string."""
    df = _df("llm_sample_stratified")
    df.collect()
    m = checks.execution_metrics(df)
    assert m["shuffle_bytes"] == 0, m


def test_runtime_bloom_filter_prunes_fact_scan():
    """The selective dim filter must be injected as a `might_contain`
    bloom predicate on the fact side — the runtime-filter lever that cuts
    a shuffle join's exchange to the joinable rows. Asserted on the
    un-materialized plan under the operator's own conf scope."""
    from lambdatotheslaughter_spark.operators import skew

    with scoped_conf(spark_global, skew.BLOOM_CONFS):
        plan = checks.optimized_plan(skew._bloom_join(spark_global, SF_DIR))
    assert "might_contain" in plan, plan


def test_interval_binned_join_is_equi_hash():
    """The binned interval join must plan as a hash/sort-merge EQUI join
    on (user, bin) — a nested-loop or cartesian node means the bin
    rewrite silently degraded to the theta form it exists to replace."""
    df = _df("join_interval_binned")
    df.collect()
    plan = checks.executed_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan), plan


def test_scd2_windows_share_one_exchange():
    """scd2_dimension_merge's lag-collapse and lead/version windows use
    the SAME (partition, order) spec — Catalyst must plan ONE hash
    exchange on custkey, not one per window pass (the docstring's
    shared-shuffle claim)."""
    df = _df("scd2_dimension_merge")
    df.collect()
    plan = checks.executed_plan(df)
    # one real exchange; the AQE toString prints initial+final sections,
    # so the string count doubles (same convention as multi_distinct)
    assert checks.count_shuffles(df) <= 2, plan
    # and both window passes sit above it: two Window nodes per section
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Window ") >= 2, plan


def test_lateral_topn_rewrites_to_window_not_loop():
    """The correlated LATERAL subquery must decorrelate into window/
    rank machinery — a nested-loop or cartesian node means per-customer
    re-execution of the inner query."""
    df = _df("join_lateral_topn")
    df.collect()
    plan = checks.executed_plan(df)
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan
    assert "Window" in plan or "TakeOrdered" in plan, plan


def test_ewma_is_single_shuffle():
    """The bounded EWMA is one partitioned window: exactly one hash
    exchange on user_id, everything else per-row frame arithmetic."""
    df = _df("ts_ewma_bounded")
    df.collect()
    # one real exchange, doubled by the AQE initial+final plan printing
    assert checks.count_shuffles(df) <= 2, checks.executed_plan(df)


def test_bigram_lm_broadcasts_count_tables():
    """Both LM count tables (bigram, unigram) are vocabulary-bounded and
    must broadcast — shuffling the exploded corpus to meet them is the
    anti-pattern the docstring forbids."""
    df = _df("llm_lm_score_bigram")
    df.collect()
    plan = checks.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_zorder_layout_bounds_extent_in_both_dimensions():
    """The Z-order rewrite's whole value is 2-D locality: every file's
    footer (min,max) extent must be a bounded fraction of the domain in
    BOTH interleaved columns (a plain single-key sort leaves the second
    column at ~1.0 — no file skippable for its predicates). Measured at
    sf0.01: avg width 0.30 (l_partkey) / 0.42 (l_suppkey); gated at 0.6."""
    import pyarrow.parquet as pq

    df = _df("sink_zorder_interleave")
    df.collect()
    from lambdatotheslaughter_spark.operators.scans import cached_dataset_path
    out = cached_dataset_path("lineitem_zorder", SF_DIR, "lineitem")
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) >= 8, f"expected a multi-file z-layout, got {len(files)}"
    for col in ("l_partkey", "l_suppkey"):
        ext = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index(col)
            mn = min(md.row_group(i).column(ci).statistics.min
                     for i in range(md.num_row_groups))
            mx = max(md.row_group(i).column(ci).statistics.max
                     for i in range(md.num_row_groups))
            ext.append((mn, mx))
        lo = min(e[0] for e in ext)
        span = max(e[1] for e in ext) - lo + 1
        avg_width = sum((e[1] - e[0] + 1) / span for e in ext) / len(ext)
        assert avg_width <= 0.6, (
            f"{col}: avg per-file extent {avg_width:.3f} of domain — "
            "z-clustering failed, files are not skippable on this column")


def test_count_metadata_only_reads_zero_columns():
    """scan_count_metadata_only's three scans must each prune to the EMPTY
    read schema — the reader then answers from row-group metadata without
    decoding any page, which is what makes COUNT(*) footer-cost at 100 TB."""
    plan = checks.executed_plan(_df("scan_count_metadata_only"))
    assert plan.count("ReadSchema: struct<>") == 3, plan


def test_cached_view_feeds_both_downstream_plans():
    """Both serving queries over the persisted revenue view must read the
    in-memory columnar cache (InMemoryTableScan), not re-aggregate orders:
    cache reuse is the point of materializing a serving view."""
    from lambdatotheslaughter_spark.operators.scans import (
        cached_revenue_view, revenue_serving_queries)

    rev = cached_revenue_view(spark_global, SF_DIR)
    try:
        plan = checks.executed_plan(revenue_serving_queries(rev))
        assert plan.count("InMemoryTableScan") >= 2, plan
        # the base aggregation must appear only inside the cached relation:
        # the downstream plans themselves contain no orders scan
        head, *_ = plan.split("InMemoryRelation", 1)
        assert "orders.parquet" not in head, head
    finally:
        rev.unpersist(blocking=True)


def test_dynamic_partition_pruning_injects_runtime_filter():
    """The fact scan's PartitionFilters must carry a dynamicpruning
    subquery: the surviving partition list is decided at RUN time from the
    broadcast dim's join keys — static pruning cannot see through the
    stored tag column."""
    plan = checks.executed_plan(_df("scan_dynamic_partition_pruning"))
    assert "dynamicpruning" in plan.lower(), plan


def test_triangle_count_stays_on_hash_joins():
    """The wedge build and the closing-edge probe must remain equi-joins —
    an OR-of-orientations probe predicate would fall off the equi-join path
    into a nested-loop over millions of wedges. The only nested-loop joins
    allowed are the final 1-row scalar crossJoins
    (n_vertices × n_edges × n_triangles). The closing-edge probe must stay
    a hash join; the wedge self-join may be either broadcast-hash or
    sort-merge (since the degree-table checkpoint the planner sees
    accurate sizes and picks sort-merge with one reusable exchange instead
    of broadcasting an E-row build relation)."""
    plan = checks.executed_plan(_df("graph_triangle_count"))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan  # closing-edge probe
    equi_joins = (plan.count("BroadcastHashJoin")
                  + plan.count("SortMergeJoin")
                  + plan.count("ShuffledHashJoin"))
    assert equi_joins >= 2, plan  # pivot join + probe, both equi
    # nested-loop joins may only combine the three single-row aggregates:
    # every BNLJ line in this plan must be a Cross of build-right scalars
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Cross" in ln, plan


def test_vocab_coverage_uses_take_ordered_not_global_window():
    """Per-N top-k must compile to TakeOrderedAndProject (partial
    per-partition top-k + driver merge of N rows) — a global row_number
    window over the vocabulary would single-partition it."""
    plan = checks.executed_plan(_df("llm_vocab_coverage"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


# keys that read one frame on two sides and leave its sharing to Spark's
# exchange reuse (a checkpoint there started build-time jobs for no gain);
# in llm_vocab_growth_heaps only the max(doc_id) broadcast is reused, and
# each token fold tokenizes the corpus itself
_SHARED_BY_REUSE = [
    "agg_bitmap_distinct_rollup", "graph_bipartite_copurchase",
    "llm_dedup_cross_shard_merge", "llm_topic_coherence_umass",
    "llm_vocab_growth_heaps", "seq_market_basket_rules",
    "seq_next_event_prediction_eval", "stat_cronbach_alpha",
    "stat_ljung_box_q", "stat_runs_test_wald_wolfowitz", "ts_acf_multi_lag",
    "win_pct_of_total",
]


@pytest.mark.parametrize("name", _SHARED_BY_REUSE)
def test_shared_frame_is_reused_not_recomputed(name):
    """Each of these builders reads a shared frame on two sides with no
    checkpoint: the executed plan must reuse its exchange, so a change
    that makes the second side recompute the shared scan fails here."""
    df = _df(name)
    df.collect()  # AQE final plan
    plan = checks.executed_plan(df)
    assert "ReusedExchange" in plan, plan


def test_winnow_window_is_partitioned_by_doc():
    """The winnowing min-window must partition by doc_id — per-document
    frames, never a global window over the k-gram stream."""
    plan = checks.executed_plan(_df("llm_fingerprint_winnow"))
    assert "Window" in plan, plan
    assert "windowspecdefinition(doc_id" in plan, plan


def test_centroids_aggregate_partially_map_side():
    """The (label, dim) centroid sums must run as partial + final hash
    aggregation: the shuffle carries 640 partial rows, not n×64 values."""
    plan = checks.executed_plan(_df("llm_embedding_centroids"))
    assert "partial_sum" in plan or "partial_" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_mom_growth_broadcasts_dims():
    """customer and nation must broadcast into the orders scan — the
    rollup's shuffle is (nation, month) partial sums only."""
    plan = checks.executed_plan(_df("ts_mom_growth"))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_shuffle_order_window_is_bucket_partitioned():
    """The global-order rank must come from the two-pass bucketed scheme:
    the only window partitions by the hash-prefix bucket `b` — a naive
    ROW_NUMBER() OVER (ORDER BY key) would single-partition the corpus.
    The 256-row prefix-offset self-join may be a broadcast nested loop
    (bounded 256x256); the offset join back must be a broadcast."""
    plan = checks.executed_plan(_df("llm_shuffle_deterministic"))
    assert "windowspecdefinition(b" in plan, plan
    assert plan.count("Window") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_epoch_upsample_is_shuffle_free():
    """Epoch up-sampling is a pure 1-to-w flatMap: the executed plan must
    contain a Generate (explode) and ZERO exchanges."""
    plan = checks.executed_plan(_df("llm_mix_epoch_upsample"))
    assert "Generate explode" in plan, plan
    assert "Exchange" not in plan, plan


def test_dim_stats_aggregate_partially_map_side():
    """n x 64 exploded rows must reduce to 64 partial groups before the
    single shuffle — partial + final hash aggregation."""
    plan = checks.executed_plan(_df("llm_embedding_dim_stats"))
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange") == 1, plan


def test_weighted_stats_single_shuffle():
    """The weighted power sums are one map-side-combinable groupBy:
    exactly one exchange, partial + final aggregation."""
    plan = checks.executed_plan(_df("agg_weighted_stats"))
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange") == 1, plan


def test_cusum_windows_are_type_partitioned_and_stats_broadcast():
    """Both running frames must partition by event_type (no global
    window), and the per-type (n, S) stats must broadcast back."""
    plan = checks.executed_plan(_df("ts_cusum_drift"))
    assert "windowspecdefinition(event_type" in plan, plan
    assert "windowspecdefinition(ts" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bfs_stays_on_hash_joins():
    """Frontier expansion and visited-set subtraction must be hash
    equi-joins — no cartesian/nested-loop anywhere in the level plans."""
    plan = checks.executed_plan(_df("graph_bfs_distance"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_blocklist_is_shuffle_free():
    """The badwords gate is pure map-side higher-order functions: zero
    exchanges, no UDF, no aggregation."""
    plan = checks.executed_plan(_df("llm_filter_blocklist"))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_fixed_k_sample_fuses_to_take_ordered():
    """Bottom-k-by-hash must compile to TakeOrderedAndProject (per-
    partition top-k + k-row driver merge) — a global Sort + Limit would
    single-partition the corpus."""
    plan = checks.executed_plan(_df("llm_sample_fixed_k"))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange") == 0, plan


def test_fuzzy_join_is_hash_equi_never_cartesian():
    """Deletion-neighborhood blocking exists to avoid the quadratic
    levenshtein theta-join: candidate pairing happens inside grouped
    blocks (plus a broadcast hash join against the corpus-adaptive
    varying-position filter) — never a cartesian/nested-loop."""
    plan = checks.executed_plan(_df("join_fuzzy_levenshtein_blocked"))
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_degree_histogram_aggregates_shrink():
    """Both cascaded groupBys must run partial + final — the shuffles
    carry per-node then per-degree partials, never raw edges."""
    plan = checks.executed_plan(_df("graph_degree_histogram"))
    assert plan.count("HashAggregate") >= 4, plan


def test_bloom_filter_sink_pushes_point_lookup():
    """The bloom-layout read-back must push the equality probe into the
    parquet scan (where the bloom bits live) — and the written files
    must actually carry a bloom filter for o_custkey (pyarrow exposes
    the per-column bloom filter offset in the parquet metadata)."""
    df = _df("sink_parquet_bloom_filter")
    assert checks.has_pushed_filter(df, "EqualTo(o_custkey"), \
        checks.executed_plan(df)
    from lambdatotheslaughter_spark.operators.scans import cached_dataset_path
    out = cached_dataset_path("orders_bloom", SF_DIR, "orders")
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert files, out
    # pyarrow 16 / this duckdb don't surface bloom offsets — read the
    # footer through Spark's own parquet-mr (the writer that made it)
    jvm = spark_global._jvm
    conf = spark_global._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(files[0])
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        path, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        offsets = {c.getPath().toDotString(): c.getBloomFilterOffset()
                   for c in reader.getFooter().getBlocks().get(0).getColumns()}
    finally:
        reader.close()
    assert offsets.get("o_custkey", -1) > 0, \
        f"no bloom filter for o_custkey: {offsets}"
    assert offsets.get("o_totalprice", -1) == -1, \
        f"bloom unexpectedly enabled beyond the keyed column: {offsets}"


def test_fixed_k_per_group_uses_window_group_limit():
    """Per-stratum top-k must engage Spark's WindowGroupLimit pushdown
    (partial per-task group limits before the shuffle) — a full
    rank-everything window would sort every row of every group."""
    plan = checks.executed_plan(_df("llm_sample_fixed_k_per_group"))
    assert "WindowGroupLimit" in plan, plan


def test_bucket_pruning_selects_one_bucket():
    """The equality probe on the bucket key must prune the scan to ONE of
    the 16 buckets before reading any row (under the operator's pinned
    confs — the registered op materializes inside the same scope)."""
    from lambdatotheslaughter_spark.operators import skew
    with scoped_conf(spark_global, skew.BUCKET_SCAN_CONFS):
        plan = checks.executed_plan(
            skew._bucket_prune_scan(spark_global, SF_DIR))
    assert "SelectedBucketsCount: 1 out of 16" in plan, plan


def test_nested_struct_pruning_reads_one_leaf():
    """Schema pruning must reach INTO the struct: the scan's ReadSchema
    carries only money.cents (plus the top-level key), not the whole
    record."""
    df = _df("scan_nested_struct_pruning")
    plan = checks.executed_plan(df)
    import re
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m, plan
    schema = m.group(1)
    assert "cents" in schema, schema
    for dropped in ("status", "priority", "total", "placed_at"):
        assert dropped not in schema, schema


def test_span_corruption_is_shuffle_free():
    """The span-corruption render is one map pass: span slicing, seeded
    masks, and both output strings fold per row — zero exchanges, no
    Generate, no Python."""
    plan = checks.executed_plan(_df("llm_span_corruption"))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Generate" not in plan, plan


def test_business_days_closed_form_never_expands():
    """The closed-form weekday count must stay a scalar projection —
    zero exchanges AND zero Generate (a sequence()-per-row explode would
    allocate the whole horizon per row at 100 TB)."""
    plan = checks.executed_plan(_df("date_business_days"))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan


def test_union_by_name_single_aggregate_exchange():
    """unionByName concatenation is shuffle-free; the only exchange is
    the 10-bucket rollup's."""
    plan = checks.executed_plan(_df("set_union_by_name"))
    assert "Union" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_boilerplate_join_broadcasts_boiler_set():
    """The df>10% boilerplate set is vocabulary-bounded, so the exploded
    shingle stream must join it broadcast — never shuffle the corpus by
    shingle key."""
    plan = checks.executed_plan(_df("llm_boilerplate_share"))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_retrieval_topk_uses_window_group_limit():
    """Per-query top-3 must ride WindowGroupLimit (rank pushdown), not a
    full per-query sort."""
    plan = checks.executed_plan(_df("llm_retrieval_bm25_topk"))
    assert "WindowGroupLimit" in plan, plan


def test_sql_join_hint_forces_broadcast():
    # the /*+ BROADCAST(c) */ hint must produce a BroadcastHashJoin even
    # with stats absent — the whole point of the hint surface
    plan = checks.executed_plan(_df("sql_join_hints"))
    assert "BroadcastHashJoin" in plan, plan


def test_sql_distribute_sort_by_no_global_sort():
    # DISTRIBUTE BY + SORT BY = one hash exchange + per-partition sort;
    # a rangepartitioning exchange in the plan would mean a global sort
    # slipped in (exactly what these clauses exist to avoid)
    plan = checks.executed_plan(_df("sql_distribute_sort_by"))
    assert "rangepartitioning" not in plan.lower(), plan


def test_sql_values_inline_table_broadcasts():
    # the 5-row VALUES relation must broadcast against the fact scan,
    # never shuffle the orders side to meet it
    plan = checks.executed_plan(_df("sql_values_inline_table"))
    assert "BroadcastHashJoin" in plan, plan


def test_sql_merge_hint_forces_sort_merge_join():
    # /*+ SHUFFLE_MERGE(c) */ must defeat the planner's hash preference
    plan = checks.executed_plan(_df("sql_join_hint_merge"))
    assert "SortMergeJoin" in plan, plan


def test_nested_predicate_reaches_parquet_scan():
    # the who.uid < 50 filter must appear in PushedFilters as a NESTED
    # column reference — post-scan evaluation would read every struct page
    df = _df("scan_nested_predicate_pushdown")
    assert checks.has_pushed_filter(df, "LessThan(who.uid,50)"), \
        checks.executed_plan(df)


def test_parquet_aggregate_pushdown_reaches_footer():
    # with the V2 reader + aggregatePushdown on, MIN/MAX/COUNT must be
    # answered from footer statistics — PushedAggregation in the scan
    import os

    from pyspark.sql import functions as F
    spark = spark_global
    v1_key = "spark.sql.sources.useV1SourceList"
    v1 = ",".join(s for s in spark.conf.get(v1_key).split(",")
                  if s and s != "parquet")
    with scoped_conf(spark, {"spark.sql.parquet.aggregatePushdown": "true",
                             v1_key: v1}):
        df = (spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
              .agg(F.min("o_orderkey"), F.max("o_orderkey"),
                   F.count(F.lit(1))))
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [MIN(o_orderkey), MAX(o_orderkey), COUNT(*)]" in plan, plan


def test_iqr_fences_broadcast_back_to_scan():
    """ts_outlier_iqr: the types-sized fence table must BROADCAST back to
    the events scan (the scan side never reshuffles for the fence join) —
    the property that keeps the detector one window exchange at 100 TB."""
    df = _df("ts_outlier_iqr")
    assert checks.has_broadcast_join(df), checks.executed_plan(df)


def test_copurchase_self_join_shares_one_exchange():
    """graph_bipartite_copurchase: the basket-key self-join must read BOTH
    sides from the same checkpointed distinct pass (no second corpus
    scan), and the pair groupBy must be a hash aggregate — the plan that
    keeps the projection linear in baskets."""
    df = _df("graph_bipartite_copurchase")
    plan = checks.executed_plan(df)
    assert "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_rag_pack_broadcasts_query_side():
    """llm_rag_context_pack: the query token set is tiny by construction
    and must be the BROADCAST side of the token join — a shuffled corpus
    join here would move every exploded token."""
    df = _df("llm_rag_context_pack")
    assert checks.has_broadcast_join(df), checks.executed_plan(df)


def test_readability_is_shuffle_free():
    """llm_readability_score is a pure map-side scalar pass — any
    exchange in its plan is a regression."""
    df = _df("llm_readability_score")
    assert checks.count_shuffles(df) == 0, checks.executed_plan(df)


def test_tz_convert_is_shuffle_free():
    """date_tz_convert is a pure map-side projection."""
    df = _df("date_tz_convert")
    assert checks.count_shuffles(df) == 0, checks.executed_plan(df)


def test_order_by_all_fuses_take_ordered():
    """sql_order_by_all: ORDER BY ALL + LIMIT must plan as
    TakeOrderedAndProject (per-partition top-N), never a global sort."""
    df = _df("sql_order_by_all")
    assert checks.has_take_ordered(df), checks.executed_plan(df)


def test_code_detect_is_shuffle_free():
    """llm_code_detect_heuristic is a pure scan-project lexicon pass —
    any exchange is a regression."""
    df = _df("llm_code_detect_heuristic")
    assert checks.count_shuffles(df) == 0, checks.executed_plan(df)


def test_try_cast_surface_is_shuffle_free():
    """type_try_cast_surface is a map-side try_* projection."""
    df = _df("type_try_cast_surface")
    assert checks.count_shuffles(df) == 0, checks.executed_plan(df)


def test_welch_is_single_aggregate_pass():
    """stat_welch_ttest must be ONE combinable aggregate over the scan —
    exactly one shuffle (the partial→final exchange), no joins."""
    df = _df("stat_welch_ttest")
    plan = checks.executed_plan(df)
    assert checks.count_shuffles(df) == 1, plan
    assert "Join" not in plan, plan


def test_ks_groupby_precedes_global_window():
    """stat_ks_two_sample: the value-domain groupBy must run BEFORE the
    global cumulative window, so the single-partition step sees the
    domain-sized table, never the corpus. Plan order: the hash aggregate
    appears below (deeper than) the window in the tree — assert both
    exist and the window input is a single partition exchange."""
    df = _df("stat_ks_two_sample")
    plan = checks.executed_plan(df)
    assert "HashAggregate" in plan, plan
    assert "Window" in plan, plan
    assert "SinglePartition" in plan, plan


def test_mark_join_aggregates_before_join():
    """join_mark_exists_flag: the order side must collapse to customer
    grain BEFORE the join (flag partials are combinable) — the plan
    carries a HashAggregate under the join, and no row explosion shape
    (BroadcastNestedLoop/Cartesian) exists."""
    df = _df("join_mark_exists_flag")
    plan = checks.executed_plan(df)
    assert "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_bootstrap_replicates_are_map_side():
    """stat_bootstrap_poisson_ci: the ×64 replicate fan-out must be a
    BROADCAST of the spine (no shuffle to produce weighted rows), and
    the replicate means must come from a hash aggregate."""
    df = _df("stat_bootstrap_poisson_ci")
    plan = checks.executed_plan(df)
    assert checks.has_broadcast_join(df), plan
    assert "HashAggregate" in plan, plan


def test_kneser_ney_model_tables_broadcast():
    """llm_lm_score_kneser_ney: all model-table joins are broadcasts —
    a shuffled model join would move the exploded bigram table once per
    model table."""
    df = _df("llm_lm_score_kneser_ney")
    plan = checks.executed_plan(df)
    assert checks.has_broadcast_join(df), plan
    assert "SortMergeJoin" not in plan, plan


def test_auc_filter_pushed_and_pruned():
    """ml_roc_auc_exact: the two-class filter must reach the parquet
    reader (In(event_type...)) and the scan must read only the columns
    the rank statistic needs — at 100 TB the other three event types
    and four columns never leave storage."""
    df = _df("ml_roc_auc_exact")
    assert checks.has_pushed_filter(df, "In(event_type"), \
        checks.executed_plan(df)
    cols = checks.read_schema_columns(df)
    assert set(cols) <= {"event_type", "value"}, cols


def test_geo_neighbor_join_single_exchange_pair():
    """geo_grid_neighbor_join: bin-and-verify must plan as an equi join
    on the cell key (hash or broadcast), NEVER a nested-loop/cartesian —
    the whole point of the grid."""
    df = _df("geo_grid_neighbor_join")
    plan = checks.executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_threshold_sweep_single_pass():
    """ml_confusion_threshold_sweep: the ×9 sweep must fold in ONE
    aggregation over the scan (broadcast spine fan-out), not nine scans."""
    df = _df("ml_confusion_threshold_sweep")
    plan = checks.executed_plan(df)
    assert plan.count("FileScan parquet") == 1, plan


def test_path_topk_is_take_ordered():
    """seq_path_topk: the global top-20 must fuse to
    TakeOrderedAndProject — a full sort of the path table is the
    anti-pattern."""
    assert checks.has_take_ordered(_df("seq_path_topk"))


# ---------------------------------------------------------------------------
# the bucketed_order sweep — zero global (no-partition) windows
# ---------------------------------------------------------------------------

_BUCKETED_SWEPT = [
    # the four fact/corpus-grain queries that planned a global window
    "ml_lift_gains_table", "seq_reorder_cadence",
    "llm_curriculum_schedule", "llm_pipeline_curation_v2",
    # the entity-grain sweep
    "stat_gini_coefficient", "agg_pareto_cutoff", "agg_abc_classification",
    "seq_rfm_segments", "win_skyline_2d", "agg_concentration_hhi_crk",
    "ml_cv_auc_per_fold",
]


def test_bucketed_sweep_has_no_single_partition_window():
    """Every query converted to bucketed.py's two-pass order must plan
    ZERO WindowExec nodes with an empty partition spec — the
    'WindowExec: No Partition Defined' warning class is retired for the
    whole list. AQE finalizes window nodes
    only after execution, so run each query first."""
    offenders = {}
    for key in _BUCKETED_SWEPT:
        df = _df(key)
        df.collect()
        n = checks.global_window_count(df)
        if n:
            offenders[key] = n
    assert not offenders, f"single-partition windows remain: {offenders}"


def test_hhi_cr10_head_fuses_to_take_ordered():
    """agg_concentration_hhi_crk's CR-10 numerator must be a TakeOrdered
    head, not a rank window over the full customer table."""
    assert checks.has_take_ordered(_df("agg_concentration_hhi_crk"))


def test_priority_sample_fuses_to_take_ordered():
    """llm_sample_ares_topk: the global k-smallest priority keys must
    fuse to TakeOrderedAndProject (per-partition heaps), never a full
    global sort of the corpus."""
    assert checks.has_take_ordered(_df("llm_sample_ares_topk"))


def test_katz_topk_is_take_ordered_and_hash_joins():
    """graph_katz_centrality_fixed: three SpMV levels must stay on hash
    equi-joins (no nested loop), and the top-100 head must fuse."""
    df = _df("graph_katz_centrality_fixed")
    plan = checks.executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert checks.has_take_ordered(df)


def test_hl_and_winrate_have_no_global_window():
    """The two ops that need a corpus-scale global order must
    route it through the bucketed two-pass rank, not WindowExec with an
    empty partition spec."""
    for key in ("stat_hodges_lehmann_shift", "llm_eval_pairwise_winrate"):
        df = _df(key)
        df.collect()
        assert checks.global_window_count(df) == 0, key


def test_dq_referential_broadcasts_dims():
    """dq_referential_integrity: every orphan check must broadcast the
    dimension side — the fact table never shuffles for an FK audit."""
    df = _df("dq_referential_integrity")
    plan = checks.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_basket_rules_never_cartesian():
    """seq_market_basket_rules: the pair expansion must be the
    basket-keyed equi self-join, never a cartesian product."""
    plan = checks.executed_plan(_df("seq_market_basket_rules"))
    assert "CartesianProduct" not in plan, plan


def test_ks_audit_has_no_global_window():
    """stat_ks_uniform_md5_audit ranks the full event key stream — the
    rank must route through the bucketed two-pass order."""
    df = _df("stat_ks_uniform_md5_audit")
    df.collect()
    assert checks.global_window_count(df) == 0


def test_bollinger_single_window_pass():
    """ts_bollinger_bands: count and both power sums must share ONE
    window exchange (type-partitioned), not three."""
    df = _df("ts_bollinger_bands")
    assert checks.count_shuffles(df) <= 2, checks.executed_plan(df)


def test_cardinality_drift_is_one_multi_distinct_scan():
    """dq_cardinality_drift_report: the six
    conditional count-distincts must fold into ONE aggregate over one
    scan (the multi-distinct Expand), plus only the 1-row broadcast
    span scan — two FileScans total, never the old ~6-scan union."""
    df = _df("dq_cardinality_drift_report")
    plan = checks.executed_plan(df)
    assert plan.count("FileScan parquet") == 2, plan
    assert "Expand" in plan, plan


def test_closeness_bitmask_has_no_sort_merge_join():
    """graph_closeness_harmonic_3hop (MS-BFS form): every
    level join must be a broadcast hash join of the V-row mask table
    against the checkpointed edge list — a SortMergeJoin here means the
    E-row side is being re-sorted per level, the exact shape the MS-BFS
    form removed."""
    df = _df("graph_closeness_harmonic_3hop")
    plan = checks.executed_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert checks.has_broadcast_join(df), plan


def test_label_propagation_rounds_have_no_label_rejoin():
    """graph_label_propagation_sync (self-loop form): the
    recurrence is one edge⋈labels broadcast join + one min fold per
    round — no SortMergeJoin, and exactly 2 joins for 3 rounds (round 1
    is a plain aggregate because l_0(u) = u)."""
    df = _df("graph_label_propagation_sync")
    plan = checks.executed_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_chrf_has_no_gram_join():
    """llm_eval_chrf (single-shuffle form): the clipped
    overlap folds INSIDE the (doc, n, gram) count aggregate — the plan
    must contain no join at all (the previous form shipped a gram-keyed
    SortMergeJoin plus a doc-grain left join)."""
    df = _df("llm_eval_chrf")
    plan = checks.executed_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "Join" not in plan or "BroadcastNestedLoopJoin" in plan, plan
