"""Property-based checks (hypothesis) for the determinism helpers — the
foundation every oracled float aggregate stands on: csum/dsum must equal the
EXACT decimal sum regardless of row order or partitioning."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import DEC, csum, dsum
from lambdatotheslaughter_spark.session import scoped_conf

# 2-decimal "money" doubles in the testdata's magnitude range
money = st.integers(min_value=-10_000_000, max_value=10_000_000) \
    .map(lambda c: c / 100.0)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(money, min_size=1, max_size=300),
       n_parts=st.integers(min_value=1, max_value=13))
def test_csum_equals_exact_decimal_sum(spark, vals, n_parts):
    exact = float(sum(Decimal(str(v)) for v in vals))
    df = spark.createDataFrame([(v,) for v in vals], "x double") \
        .repartition(n_parts)
    got = df.agg(csum("x").alias("s")).collect()[0]["s"]
    assert got == exact, (got, exact)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(money, min_size=1, max_size=300),
       n_parts=st.integers(min_value=1, max_value=13))
def test_dsum_equals_exact_decimal_sum(spark, vals, n_parts):
    exact = float(sum(Decimal(str(v)) for v in vals))
    df = spark.createDataFrame([(v,) for v in vals], "x double") \
        .repartition(n_parts)
    got = df.agg(dsum("x").alias("s")).collect()[0]["s"]
    assert got == exact, (got, exact)


def test_dsum_cast_matches_duckdb_semantics(spark, duck):
    """The DECIMAL(38,6) cast of an arbitrary double must agree between
    engines on awkward values (many decimals, negatives, tiny magnitudes)."""
    vals = [1.005, -2.675, 0.1234565, 123456.789012349, -0.0000005, 3.141592653589793]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    s = [r["c"] for r in sdf.select(F.col("x").cast(DEC).cast("double").alias("c")).collect()]
    d = [r[0] for r in duck.execute(
        "SELECT CAST(CAST(x AS DECIMAL(38,6)) AS DOUBLE) FROM (SELECT unnest(?) AS x)",
        [vals]).fetchall()]
    assert s == d, (s, d)


def test_round_cents_matches_duckdb_cast(spark, duck):
    """The money rule must give the BIGINT the oracles spell as
    CAST(round(x * 100, 0) AS BIGINT): half-cent ties of both signs,
    doubles that sit just off a tie (1.005, -2.675) and large
    magnitudes."""
    from lambdatotheslaughter_spark.determinism import round_cents

    vals = [0.125, -0.125, 0.005, -0.005, 1.005, -2.675, 0.0, -0.0,
            2.0 ** 40 + 0.125, -(2.0 ** 40 + 0.125), 1e13 + 0.005,
            -1e13 - 0.005, 4.5e13 + 0.125, 1e16, -1e16]
    vals += [k / 200 for k in range(-4001, 4002, 2)]  # ties in ±20
    vals += [k / 1000 for k in range(-2000, 2001, 7)]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    s = sorted((r["x"], r["c"]) for r in sdf.select(
        "x", round_cents("x").alias("c")).collect())
    d = sorted(duck.execute(
        "SELECT x, CAST(round(x * 100, 0) AS BIGINT) "
        "FROM (SELECT unnest(?) AS x)", [vals]).fetchall())
    assert s == d, [(a, b) for a, b in zip(s, d) if a != b][:10]


def test_csum_family_semantics_vs_plain_double_sums(spark):
    """Symmetric oracles can't catch a scale-factor bug present on BOTH
    sides (it happened: /1e6 instead of /1e4 hash-matched fine). Guard the
    SEMANTICS: the exact int-cents aggregates must agree with naive double
    sums to float tolerance."""
    from lambdatotheslaughter_spark.determinism import (
        cavg, charge_csum, csum, disc_price_csum)
    from lambdatotheslaughter_spark.tables import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.001")
    got = li.agg(
        csum("l_extendedprice").alias("s_price"),
        disc_price_csum("l_extendedprice", "l_discount").alias("s_disc"),
        charge_csum("l_extendedprice", "l_discount", "l_tax").alias("s_charge"),
        cavg("l_quantity").alias("a_qty"),
    ).collect()[0]
    ref = li.agg(
        F.sum("l_extendedprice").alias("s_price"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("s_disc"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
              * (1 + F.col("l_tax"))).alias("s_charge"),
        F.avg("l_quantity").alias("a_qty"),
    ).collect()[0]
    for k in ("s_price", "s_disc", "s_charge", "a_qty"):
        assert abs(got[k] - ref[k]) <= 1e-6 * abs(ref[k]), (k, got[k], ref[k])


def test_money_paths_are_bit_identical(spark):
    """The adaptive selector's claim: csum-family and dsum-family results
    are BIT-identical for 2-decimal money (per-row DECIMAL(38,6) cast of
    the double product recovers the exact rational), so auto-switching at
    the overflow bound can never change a query's answer — including under
    adversarial extremes (max price, 99% discount/tax)."""
    from lambdatotheslaughter_spark.determinism import (
        cavg, charge_csum, charge_dsum, csum, davg, disc_price_csum,
        disc_price_dsum, dsum)
    from lambdatotheslaughter_spark.tables import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.01")
    synth = spark.range(10_000).select(
        F.lit(99999.99).alias("l_extendedprice"),
        F.lit(0.99).alias("l_discount"),
        F.lit(0.99).alias("l_tax"),
        F.lit(50.0).alias("l_quantity"))
    for df in (li, synth):
        row = df.agg(
            csum("l_extendedprice").alias("c_sum"),
            dsum("l_extendedprice").alias("d_sum"),
            disc_price_csum("l_extendedprice", "l_discount").alias("c_dp"),
            disc_price_dsum("l_extendedprice", "l_discount").alias("d_dp"),
            charge_csum("l_extendedprice", "l_discount", "l_tax").alias("c_ch"),
            charge_dsum("l_extendedprice", "l_discount", "l_tax").alias("d_ch"),
            cavg("l_quantity").alias("c_avg"),
            davg("l_quantity").alias("d_avg"),
        ).collect()[0]
        assert row["c_sum"] == row["d_sum"], (row["c_sum"], row["d_sum"])
        assert row["c_dp"] == row["d_dp"], (row["c_dp"], row["d_dp"])
        assert row["c_ch"] == row["d_ch"], (row["c_ch"], row["d_ch"])
        assert row["c_avg"] == row["d_avg"], (row["c_avg"], row["d_avg"])


def test_money_selector_flips_at_bound():
    """Selection must be csum-family up to CSUM_SAFE_ROWS and dsum-family
    past it; the size-based row estimate must overestimate (conservative)."""
    from lambdatotheslaughter_spark.determinism import (
        CSUM_SAFE_ROWS, csum, dsum, estimate_rows, money_aggs)

    assert money_aggs(CSUM_SAFE_ROWS)["sum"] is csum
    assert money_aggs(CSUM_SAFE_ROWS + 1)["sum"] is dsum
    import duckdb
    real = duckdb.sql(
        "SELECT count(*) FROM read_parquet('/root/testdata/sf0.01/lineitem.parquet')"
    ).fetchone()[0]
    est = estimate_rows("/root/testdata/sf0.01", "lineitem")
    assert est >= real, f"estimate {est} under real {real} — bound not conservative"


def test_rounded_float_queries_stable_across_partitioning(spark):
    """The rounded-float operators (corr/covar, LM score, token entropy,
    embedding outliers, BM25) claim their rounding margin dominates
    partial-merge-order drift. Prove it for real: run each at two very
    different shuffle widths in THIS session by repartitioning the inputs
    implicitly via spark.sql.shuffle.partitions, and require bit-identical
    output multisets.

    getOrCreate() caches the session, so the conf flip applies to new
    plans (shuffle.partitions is read at planning time) — no second
    session needed."""
    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    names = ["agg_corr_covar", "llm_lm_score", "llm_token_entropy",
             "llm_embedding_outliers", "llm_bm25_rank"]
    results = {}
    for parts in ("5", "97"):
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            for n in names:
                rows = registry.get(n).fn(spark, SF_DIR).collect()
                key = sorted(tuple(r) for r in rows)
                results.setdefault(n, []).append(key)
    for n, (a, b) in results.items():
        assert a == b, f"{n}: output depends on shuffle partitioning"


def test_scd2_ranges_partition_the_timeline(spark):
    """SCD2 output invariants, independent of the oracle: per key,
    versions are 1..n dense, exactly one open (is_current) range, ranges
    chain exactly (valid_to == next valid_from), and priorities never
    repeat consecutively (the lag-collapse worked)."""
    from collections import defaultdict

    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    rows = registry.get("scd2_dimension_merge").fn(spark, SF_DIR).collect()
    by_key = defaultdict(list)
    for r in rows:
        by_key[r.custkey].append(r)
    assert by_key, "scd2 produced no rows"
    for key, rs in by_key.items():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1)), key
        assert sum(r.is_current for r in rs) == 1, key
        assert rs[-1].is_current and rs[-1].valid_to is None, key
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from, key
            assert a.priority != b.priority, key


def test_cdc_apply_respects_changelog_semantics(spark):
    """CDC-apply invariants: every deleted key (latest op = purchase) is
    absent; every cdc-sourced key carries its latest non-delete value;
    base keys untouched by the changelog pass through with src='base'."""
    from lambdatotheslaughter_spark import registry
    from lambdatotheslaughter_spark.tables import load_table
    from tests.conftest import SF_DIR

    import pyspark.sql.functions as F

    out = {r.key: r for r in
           registry.get("cdc_apply_changelog").fn(spark, SF_DIR).collect()}
    ev = load_table(spark, "events", SF_DIR)
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    last = (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).collect())
    base = {r.c_custkey for r in
            load_table(spark, "customer", SF_DIR)
            .select("c_custkey").collect()}
    changed = {r.user_id for r in last}
    deleted = {r.user_id for r in last if r.event_type == "purchase"}
    for k in deleted:
        assert k not in out, f"deleted key {k} survived"
    for r in last:
        if r.event_type != "purchase":
            assert out[r.user_id].src == "cdc"
            assert out[r.user_id].value == round(r.value, 6)
    for k in base - changed:
        assert out[k].src == "base", k


def test_exact_moment_ops_are_partition_invariant(spark):
    """The round-4 exact-arithmetic aggregates (decimal power sums, fixed-
    point centroid sums) must be BIT-identical under a radically different
    shuffle partitioning — the property that makes them reproducible
    across cluster sizes and AQE re-plans, not just across engines."""
    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    for name in ("agg_skew_kurt_exact", "llm_embedding_centroids",
                 "ts_seasonal_decompose_ma", "agg_weighted_stats",
                 "ts_cusum_drift", "llm_embedding_dim_stats",
                 "llm_shuffle_deterministic", "graph_bfs_distance"):
        fn = registry.get(name).fn
        base = sorted(map(tuple, fn(spark, SF_DIR).collect()))
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "97"}):
            churned = sorted(map(tuple, fn(spark, SF_DIR).collect()))
        assert base == churned, f"{name}: partition-count-dependent values"


def test_round6_stats_partition_invariance(spark):
    """The round-6 statistic kernels must produce BIT-IDENTICAL values
    under a hostile repartitioning (the 97-partition probe as a pinned
    test): integer-moment folds, rank windows, and fixed-order float
    folds are all partitioning-free by construction — any drift here is
    an associativity bug."""
    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR
    keys = ["stat_welch_ttest", "stat_ks_two_sample",
            "stat_gini_coefficient", "stat_anova_oneway_f",
            "stat_kendall_tau", "stat_spearman_rho",
            "graph_assortativity_degree", "stat_bootstrap_poisson_ci"]
    baseline = {k: sorted(map(tuple, registry.get(k).fn(spark, SF_DIR)
                              .collect())) for k in keys}
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "97"}):
        for k in keys:
            got = sorted(map(tuple, registry.get(k).fn(spark, SF_DIR)
                             .collect()))
            assert got == baseline[k], f"{k} drifted under 97 partitions"


def test_third_ring_partition_invariance(spark):
    """Round-6 third-ring kernels (nonparametric tests, fixed-point folds,
    spatial grids, ML eval) must be BIT-identical under the 97-partition
    probe: rank windows, integer fixed-point sums, md5-derived
    randomness and ordered float folds are all partitioning-free by
    construction."""
    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR
    keys = ["stat_mann_whitney_u", "stat_brown_forsythe",
            "stat_cramers_v", "graph_adamic_adar_linkpred",
            "stat_permutation_test", "stat_bh_fdr_permutation",
            "geo_grid_neighbor_join", "dq_distribution_drift_psi",
            "ml_roc_auc_exact", "ml_cv_auc_per_fold",
            "llm_feature_hashing", "seq_path_topk",
            "ts_haar_energy_levels", "stat_entropy_rate_markov",
            "win_interval_union_length", "agg_concentration_hhi_crk",
            "seq_growth_accounting_weekly", "ts_gap_log_histogram",
            "llm_pipeline_curation_v2", "sql_incremental_mv_refresh",
            "er_blocking_quality_report", "ml_lift_gains_table",
            "agg_pareto_cutoff", "agg_abc_classification",
            "ts_yoy_growth", "agg_cohort_ltv_curve",
            "win_max_drawdown", "stat_ljung_box_q",
            "ml_learning_curve_auc", "graph_personalized_pagerank",
            "seq_rfm_segments", "stat_interrupted_time_series",
            "stat_g_test_cells", "win_peer_group_zscore",
            "win_ytd_running_total", "ts_seasonal_index_monthly",
            "seq_reorder_cadence", "agg_repeat_purchase_rate",
            "stat_sign_test_paired", "stat_wilcoxon_signed_rank",
            "stat_friedman_test", "ts_permutation_entropy",
            "stat_kruskal_wallis", "win_skyline_2d",
            "stat_mood_median_test"]
    baseline = {k: sorted(map(tuple, registry.get(k).fn(spark, SF_DIR)
                              .collect())) for k in keys}
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "97"}):
        for k in keys:
            got = sorted(map(tuple, registry.get(k).fn(spark, SF_DIR)
                             .collect()))
            assert got == baseline[k], f"{k} drifted under 97 partitions"


def test_seventh_ring_partition_invariance(spark):
    """Round-7 seventh-ring kernels (trend/diagnostic stats, changepoint
    argmax, MCC sweep, Hurst R/S, label propagation, chrF, DQ audits)
    must be BIT-identical under the hostile 97-partition probe: every
    fold is an integer/decimal sum, a bounded-domain window, or a
    fixed-order quantized tree by construction."""
    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR
    keys = ["stat_cochran_armitage_trend", "stat_bartlett_test",
            "stat_durbin_watson", "ts_changepoint_cusum_argmax",
            "ml_mcc_threshold_sweep", "dq_cross_field_consistency",
            "seq_interpurchase_quantiles", "ts_hurst_rs",
            "graph_label_propagation_sync", "llm_eval_chrf",
            "scan_txlog_checkpoint",
            "stat_breusch_pagan", "ts_dickey_fuller_unit_root",
            "graph_closeness_harmonic_3hop", "llm_hapax_ratio_per_source",
            "agg_geometric_harmonic_mean", "dq_schema_drift_report",
            "ts_granger_lag1", "ml_cost_curve_threshold",
            "dq_volume_anomaly_daily", "stream_changepoint_monitor",
            "graph_local_bridges", "seq_user_path_entropy",
            "stat_welch_anova", "stat_cronbach_alpha",
            "llm_cross_lang_leakage", "ts_turning_points_test",
            "er_fellegi_sunter_scores",
            "llm_watermark_greenlist_detect",
            "seq_next_event_prediction_eval", "agg_histogram_equi_depth",
            "llm_select_top_quality_budget", "graph_avg_neighbor_degree",
            "stat_meta_fixed_effect_pool",
            "llm_eval_ndcg_at10", "dq_cardinality_drift_report",
            "stat_capability_indices"]
    baseline = {k: sorted(map(tuple, registry.get(k).fn(spark, SF_DIR)
                              .collect())) for k in keys}
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "97"}):
        for k in keys:
            got = sorted(map(tuple, registry.get(k).fn(spark, SF_DIR)
                             .collect()))
            assert got == baseline[k], f"{k} drifted under 97 partitions"
