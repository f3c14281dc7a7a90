"""THE correctness gate replica: every registered query with an oracle is
run on Spark and on DuckDB at sf0.01 and compared exactly, mirroring the
driver's CORRECTNESS check. Rows-only queries are checked for rows >= 0 and
a stable schema across two runs (determinism smoke).

Both checks also hold every key to the contract of the one shared session:
building a key starts no Spark job, and building and running it leave the
session's confs and catalog as they were. The two allowlists below name the
keys allowed such an effect, with the reason for each.
"""

from __future__ import annotations

import os
import uuid

import pytest

from lambdatotheslaughter_spark import registry
from lambdatotheslaughter_spark.plans.rebuild import DEFAULT_VIEWS
from lambdatotheslaughter_spark.tables import load_table
from tests.conftest import SF_DIR, assert_parity, canonical_rows

ALL = sorted(registry.all_queries())
WITH_ORACLE = sorted(registry.all_oracles())
ROWS_ONLY = sorted(set(ALL) - set(WITH_ORACLE))

_SF_TAG = os.path.basename(SF_DIR.rstrip("/")).replace(".", "_")

_BUCKETED = {f"lts_orders_b_{_SF_TAG}", f"lts_lineitem_b_{_SF_TAG}"}

# key -> the catalog names it may leave behind. Two kinds of key only: one
# whose operation is a managed-table write, and one whose feature is a
# fixed, idempotent named object, registered again under the same name.
CATALOG_EFFECTS: dict[str, set[str]] = {
    # managed-table writes
    "sink_managed_table": {"lts_serving_view"},  # saveAsTable is the sink
    "catalog_analyze_stats": {f"lts_orders_stats_{_SF_TAG}"},  # ANALYZE TABLE
    "sql_column_defaults": {f"lts_defaults_state_{_SF_TAG}"},  # DEFAULTs are DDL
    "join_bucketed_colocated": _BUCKETED,  # bucketing is a table property
    "scan_bucket_pruning": _BUCKETED,  # same tables; the first key writes them
    # fixed named objects, each called by name from the key's SQL
    "sql_scalar_function_ddl": {"lts_disc_band"},  # CREATE OR REPLACE FUNCTION
    "sql_global_temp_view": {"global_temp.lts_orders_global"},  # cross-session
    "udf_sql_registered": {"lts_priority_lane"},  # spark.udf.register
    "udtf_explode_sessions": {"lts_expand_seq"},  # spark.udtf.register
    "udtf_dynamic_schema": {"lts_prefix_tokens"},  # spark.udtf.register
    "udtf_sql_registered": {"lts_price_bands"},  # spark.udtf.register
    "udtf_arrow_optimized": {"lts_token_stats_arrow"},  # spark.udtf.register
    "udtf_table_argument": {"lts_type_rollup"},  # spark.udtf.register
}

# keys that may start Spark jobs while building, by the reason they do
EAGER_AT_BUILD: frozenset[str] = frozenset({
    # graph: iterative algorithms checkpoint each round from the driver
    "graph_adamic_adar_linkpred", "graph_assortativity_degree",
    "graph_avg_neighbor_degree", "graph_bfs_distance",
    "graph_closeness_harmonic_3hop", "graph_clustering_coefficient",
    "graph_connected_components", "graph_degree_histogram", "graph_hits_fixed",
    "graph_jaccard_neighbors", "graph_k_core", "graph_katz_centrality_fixed",
    "graph_label_propagation_sync", "graph_local_bridges",
    "graph_modularity_brand", "graph_pagerank_fixed",
    "graph_personalized_pagerank", "graph_reciprocity",
    "graph_rich_club_coefficient", "graph_triangle_count",
    # llm, corpus: checkpointed intermediates and driver-side thresholds
    "llm_dedup_bloom_prefilter", "llm_dedup_cluster", "llm_dedup_containment",
    "llm_dedup_fuzzy_minhash", "llm_dedup_ngram_jaccard",
    "llm_dedup_span_exact", "llm_embedding_matryoshka_recall",
    "llm_embedding_pca_project", "llm_embedding_pq_quantize",
    "llm_eval_retrieval_mrr", "llm_hard_negative_mining",
    "llm_pipeline_end_to_end", "llm_sim_ann_ivf", "llm_sim_knn_bruteforce",
    "llm_sim_knn_per_query", "llm_sim_knn_quantized", "llm_sim_lsh_approx",
    "llm_sim_lsh_mllib", "llm_sim_radius_search", "llm_text_tfidf_top_terms",
    "llm_tokenizer_bpe_apply", "llm_tokenizer_bpe_train",
    "llm_cluster_topic_terms", "llm_dedup_paragraph", "llm_dedup_survivorship",
    "llm_eval_ndcg_at10", "llm_lsh_tuning_report", "llm_pipeline_curation_v2",
    "llm_sim_mmr_rerank", "llm_vocab_coverage",
    # scans: the write is the operation, or an on-disk fixture is built; a
    # fixture is cached across runs, and some are shared by several keys
    "catalog_analyze_stats", "scan_aggregate_pushdown", "scan_cached_view_reuse",
    "scan_csv_permissive_corrupt", "scan_dynamic_partition_pruning",
    "scan_fieldid_rename_evolution", "scan_ignore_corrupt_files",
    "scan_incremental_manifest_diff", "scan_metadata_columns",
    "scan_nested_predicate_pushdown", "scan_nested_struct_pruning",
    "scan_observe_quality", "scan_partition_pruning",
    "scan_partition_spec_evolution", "scan_position_deletes",
    "scan_schema_evolution", "scan_time_travel_manifest",
    "scan_txlog_checkpoint", "scan_txlog_snapshot", "scan_vacuum_orphan_files",
    "sink_compaction_small_files", "sink_csv_roundtrip_quotes",
    "sink_dynamic_partition_overwrite", "sink_jsonl_roundtrip",
    "sink_managed_table", "sink_max_records_per_file", "sink_parquet",
    "sink_parquet_bloom_filter", "sink_sorted_data_skipping",
    "sink_zorder_interleave", "source_binary_files", "source_csv",
    "source_json_multiline", "source_jsonl", "source_jsonl_gzip", "source_orc",
    "source_partition_discovery_types", "source_recursive_glob",
    "source_text_lines", "source_xml", "sql_column_defaults",
    # skew: the bucketed-table fixture, and a plan materialized under its confs
    "join_bucketed_colocated", "scan_bucket_pruning", "join_runtime_bloom_filter",
    # streaming_twins, udfs: a stream is drained while building
    "sink_stream_to_table", "stream_rate_source_resume",
    "source_python_datasource_stream",
    # sql: DataFrame.transpose reads its column names; a SQL script and
    # SET VAR run when spark.sql is called
    "df_transpose", "sql_scripting_block", "sql_session_variables",
    # stats, timeseries, sequences, aggregates, windows, quality:
    # checkpointed shared intermediates and driver-side scalars
    "ml_lift_gains_table", "stat_bh_fdr_permutation", "stat_cochran_q",
    "stat_crosstab", "stat_hodges_lehmann_shift", "stat_kendall_tau",
    "stat_wilcoxon_signed_rank", "ts_dtw_banded_pairs", "ts_hurst_rs",
    "ts_xcorr_lead_lag", "seq_growth_accounting_weekly", "seq_rfm_segments",
    "dq_schema_drift_report",
})


def _session_state(spark):
    """The session's confs, and the names a key could leave in its
    catalog: tables and temp views, global temp views, and temporary
    functions beyond the builtins. A warm-up load first makes the two
    permanent settings ``tables`` applies on load."""
    load_table(spark, "events", SF_DIR)
    cat = spark.catalog
    names = ({t.name for t in cat.listTables()}
             | {f"global_temp.{t.name}" for t in cat.listTables("global_temp")
                if t.namespace == ["global_temp"]}
             | {r.function for r in spark.sql("SHOW USER FUNCTIONS").collect()})
    return spark.conf.getAll, names


def _build(spark, name):
    """Build key ``name`` in a fresh job group; return its plan and the
    number of Spark jobs building it started."""
    sc = spark.sparkContext
    group = f"build-{name}-{uuid.uuid4().hex[:8]}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df = registry.get(name).fn(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_pure(spark, name, before, jobs):
    """After the key's result has been collected: building it started no
    job unless allowlisted, and the confs and catalog are as ``before``."""
    confs, names = _session_state(spark)
    left = names ^ before[1]
    problems = []
    if jobs and name not in EAGER_AT_BUILD:
        problems.append(f"started {jobs} Spark jobs while building")
    if confs != before[0]:
        problems.append("changed the session's confs")
    if not left <= CATALOG_EFFECTS.get(name, set()):
        problems.append(f"left {sorted(left)} in the session catalog")
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, duck, name):
    before = _session_state(spark)
    df, jobs = _build(spark, name)
    assert_parity(df, duck, registry.get(name).oracle, name)
    _assert_pure(spark, name, before, jobs)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_deterministic(spark, name):
    before = _session_state(spark)
    df, jobs = _build(spark, name)
    a = df.toPandas()
    _assert_pure(spark, name, before, jobs)
    b = registry.get(name).fn(spark, SF_DIR).toPandas()
    assert canonical_rows(a) == canonical_rows(b), f"{name}: nondeterministic"
    assert len(a) >= 0


def test_default_views_are_pure_builders():
    """``rebuild_views`` builds every default view on its own thread in the
    one session, so no default view may be allowlisted. The allowlists
    name registered keys only."""
    assert set(DEFAULT_VIEWS) <= set(ALL)
    assert not set(DEFAULT_VIEWS) & (EAGER_AT_BUILD | set(CATALOG_EFFECTS))
    assert EAGER_AT_BUILD | set(CATALOG_EFFECTS) <= set(ALL)


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.schema is not None
