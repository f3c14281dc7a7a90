#!/usr/bin/env python
"""Materialize the affine-permutation DENSITY fixture (round 10).

A plain copy-shift scale-up (each copy a key-shifted clone) repeats the same
baskets per copy, so the DISTINCT co-purchase graph — and every wedge /
BFS / SpMV volume derived from it — is IDENTICAL at every tier; its
"graph density" rows measured scan+dedup growth only. This fixture
instead gives copy i an affine partkey PERMUTATION over the prime field
P = 20011 (`x → (a_i·x + b_i) mod P`, a_i coprime to P), so each copy
contributes a differently-wired image of the graph on the SAME ~20k
vertices: distinct edges and degrees grow ~linearly with copies, the
exact wedge set Θ(Σ deg²) grows ~quadratically — the power-law-hub
regime the graph kernels' scale claims must survive.

Output: /tmp/lts_aa_dense_{n}x/lineitem.parquet (orderkeys shifted per
copy so order-grain windows keep their grain), plus 1× copies of every
other table so `load_table` callers (e.g. PPR's part-seeded teleport)
resolve. Used by the SCALE.md §r10 adamic-adar, iterative-kernel, and
wedge-family density rows.

Usage: python tools/density_fixture.py [n_copies ...]   (default: 1 3 10)
       python tools/density_fixture.py --docs [n_copies ...]

--docs (round 11, VERDICT r10 ask #5) materializes the DOCUMENT density
fixture instead: the copy-shift harness duplicates texts verbatim
(multiplicity stress — exercised by the r10 dedup probes), while this
axis grows DISTINCT near-dup neighborhoods: copy i of each document
appends a copy-unique token ("uvar{i}"), so every variant is a distinct
text whose 3-gram shingle set shares all original shingles with every
other variant (pairwise Jaccard ~ |sh|/(|sh|+2), far above both the 0.5
candidate and 0.8 near-dup bars). doc_ids shift by i*10_000_001 — an ODD
stride, so variant parity alternates and llm_dedup_incremental_fuzzy's
odd/even incoming-vs-history split sees each neighborhood from both
sides (candidate volume per seed grows ~n^2/4; LSH bucket sizes grow
linearly). n_chars is recomputed from the mutated text so survivorship's
argmax policy stays consistent. Output: /tmp/lts_docdense_v2_{n}x.
"""
from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lambdatotheslaughter_spark.session import get_spark

# ADVICE r10 #3: the round-10 map worked mod the prime 20011, which
# emitted partkeys 0 and 20001-20010 that do not exist in the 1x part
# table — part-joined kernels (e.g. PPR's p_size<=5 seed join) silently
# dropped those vertices, slightly understating probed density; and
# a=1+97*i was only guaranteed nonzero mod P for i<~206. Round 11 maps
# back into the part domain [1, 20000]: x -> 1 + ((a*(x-1) + b) mod M)
# with M = 20000 and a_i = 3^i mod M (3 is a unit mod 2^5*5^4, so every
# a_i is coprime to M and the map is a true permutation of [1, M] at
# every tier). Output dirs are versioned _v2 so stale /tmp caches from
# the r10 map can never mix into r11 rows.
M = 20000  # part-domain size at sf0.1 (l_partkey in [1, 20000])
SRC = "/root/testdata/sf0.1"
OTHER_TABLES = ("region", "nation", "customer", "supplier", "part",
                "orders", "events", "documents", "embeddings")


def materialize(spark, n: int) -> str:
    out = f"/tmp/lts_dense_v2_{n}x"
    os.makedirs(out, exist_ok=True)
    dst = os.path.join(out, "lineitem.parquet")
    if not os.path.exists(os.path.join(dst, "_SUCCESS")):
        src = spark.read.parquet(f"{SRC}/lineitem.parquet")
        copies = []
        for i in range(n):
            a, b = pow(3, i, M), 31 * i  # a coprime to M for every i
            copies.append(
                src.withColumn("l_partkey",
                               ((F.col("l_partkey") - 1) * F.lit(a)
                                + F.lit(b)) % F.lit(M) + F.lit(1))
                .withColumn("l_orderkey",
                            F.col("l_orderkey") + F.lit(i * 10_000_000)))
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        df.write.mode("overwrite").parquet(dst)
    for t in OTHER_TABLES:
        tdst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(tdst):
            shutil.copytree(f"{SRC}/{t}.parquet", tdst) \
                if os.path.isdir(f"{SRC}/{t}.parquet") \
                else shutil.copy(f"{SRC}/{t}.parquet", tdst)
    return out


def materialize_docs(spark, n: int) -> str:
    out = f"/tmp/lts_docdense_v2_{n}x"
    os.makedirs(out, exist_ok=True)
    dst = os.path.join(out, "documents.parquet")
    if not os.path.exists(os.path.join(dst, "_SUCCESS")):
        src = spark.read.parquet(f"{SRC}/documents.parquet")
        copies = []
        for i in range(n):
            copies.append(
                src.withColumn("doc_id",
                               F.col("doc_id") + F.lit(i * 10_000_001))
                .withColumn("text", F.concat(F.col("text"),
                                             F.lit(f" uvar{i}")))
                .withColumn("n_chars", F.length("text")))
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        df.write.mode("overwrite").parquet(dst)
    for t in OTHER_TABLES + ("lineitem",):
        if t == "documents":
            continue
        tdst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(tdst):
            shutil.copytree(f"{SRC}/{t}.parquet", tdst) \
                if os.path.isdir(f"{SRC}/{t}.parquet") \
                else shutil.copy(f"{SRC}/{t}.parquet", tdst)
    return out


def main() -> None:
    args = sys.argv[1:]
    docs = "--docs" in args
    tiers = [int(a) for a in args if a != "--docs"] or [1, 3, 10]
    spark = get_spark("lts-density-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    for n in tiers:
        fn = materialize_docs if docs else materialize
        print(f"materialized {fn(spark, n)}")


if __name__ == "__main__":
    main()
