"""Gates for the shared two-pass bucketed global order (bucketed.py, the
one helper every global-order key uses): value-exactness against the plain
single-partition window it replaces, the SQL-standard NTILE formula against
Spark's own ntile(), two-run bit-determinism (the hazard that killed the
repartitionByRange prototype — see the module docstring), and the plan
property the whole exercise exists for: no WindowExec without a partition
spec."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.bucketed import bucketed_order, exact_ntile
from lambdatotheslaughter_spark.plans import checks


@pytest.fixture(scope="module")
def fixture_df(spark):
    # 40k rows, skewed non-uniform values WITH ties, 5 groups
    return spark.range(40_000).select(
        F.col("id"),
        # quadratic spread: heavily skewed toward small values
        (F.pmod(F.xxhash64("id"), F.lit(200))
         * F.pmod(F.xxhash64("id"), F.lit(200))).alias("v"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(5)).alias("g"))


def test_rank_cumsum_prefixmax_match_global_window(fixture_df):
    r = bucketed_order(fixture_df, "v", ["id"], descending=True,
                       rank_col="rk", cumsum={"cv": "v"},
                       prefix_max={"pm": "v"})
    w = Window.orderBy(F.col("v").desc(), "id")
    ref = fixture_df.select(
        "id",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint").alias("cv"),
        F.max("v").over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("pm"))
    bad = (r.alias("a").join(ref.alias("b"), "id")
           .where((F.col("a.rk") != F.col("b.rk"))
                  | (F.col("a.cv") != F.col("b.cv"))
                  | (~F.col("a.pm").eqNullSafe(F.col("b.pm"))))
           .count())
    assert bad == 0


def test_ntile_matches_sparks_ntile(fixture_df):
    for k in (4, 10, 7):
        r = bucketed_order(fixture_df, "v", ["id"], ntile={"q": k})
        ref = fixture_df.select(
            "id", F.ntile(k).over(Window.orderBy("v", "id"))
            .cast("bigint").alias("q"))
        bad = (r.alias("a").join(ref.alias("b"), "id")
               .where(F.col("a.q") != F.col("b.q")).count())
        assert bad == 0, f"ntile({k}) diverged"


def test_ntile_small_n_edge(spark):
    # n < k: NTILE gives row i bucket i
    df = spark.range(3).select(F.col("id"), F.col("id").alias("v"))
    r = {row["id"]: row["q"] for row in
         bucketed_order(df, "v", ["id"], ntile={"q": 10}).collect()}
    assert r == {0: 1, 1: 2, 2: 3}


def test_partitioned_variant_matches_group_windows(fixture_df):
    r = bucketed_order(fixture_df, "v", ["id"], partition_by=["g"],
                       rank_col="rk", cumsum={"cv": "v"}, n_buckets=16)
    w = Window.partitionBy("g").orderBy("v", "id")
    ref = fixture_df.select(
        "id",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint").alias("cv"))
    bad = (r.alias("a").join(ref.alias("b"), "id")
           .where((F.col("a.rk") != F.col("b.rk"))
                  | (F.col("a.cv") != F.col("b.cv"))).count())
    assert bad == 0


def test_two_run_bit_determinism(fixture_df):
    hashes = []
    for _ in range(2):
        rows = sorted(map(tuple, bucketed_order(
            fixture_df, "v", ["id"], descending=True, rank_col="rk",
            cumsum={"cv": "v"}).collect()))
        hashes.append(hashlib.md5(str(rows).encode()).hexdigest())
    assert hashes[0] == hashes[1]


def test_plan_has_no_global_window(fixture_df):
    r = bucketed_order(fixture_df, "v", ["id"], rank_col="rk",
                       ntile={"q": 4}, cumsum={"cv": "v"},
                       prefix_max={"pm": "v"})
    r.collect()
    assert checks.global_window_count(r) == 0, checks.executed_plan(r)


def test_exact_ntile_formula_pure(spark):
    # direct formula audit over every (n, k) in a small grid
    rows = []
    for n in range(1, 40):
        for k in (2, 3, 4, 10):
            q, rr = divmod(n, k)
            for rank in range(1, n + 1):
                if rank <= rr * (q + 1):
                    want = -(-rank // (q + 1))
                else:
                    want = rr + -(-(rank - rr * (q + 1)) // max(q, 1))
                rows.append((n, k, rank, want))
    df = spark.createDataFrame(rows, "n long, k long, rank long, want long")
    got = df.select(
        "want",
        F.when(F.col("k") == 2, exact_ntile(F.col("rank"), F.col("n"), 2))
        .when(F.col("k") == 3, exact_ntile(F.col("rank"), F.col("n"), 3))
        .when(F.col("k") == 4, exact_ntile(F.col("rank"), F.col("n"), 4))
        .otherwise(exact_ntile(F.col("rank"), F.col("n"), 10))
        .alias("got"))
    assert got.where(F.col("want") != F.col("got")).count() == 0
