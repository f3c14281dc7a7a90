"""Quality gates for the approximate similarity operators: the rows-only
checks prove determinism; these prove the approximations are actually close
to the exact baselines (recall), mirroring how the reference genre validates
ANN/LSH operators (SURVEY §5)."""

from __future__ import annotations

from lambdatotheslaughter_spark import registry
from lambdatotheslaughter_spark.session import scoped_conf
from tests.conftest import SF_DIR


def _pairs(df, cols=("a_id", "b_id")):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_lsh_approx_recall(spark, duck):
    """LSH candidate pairs must recover >= 80% of the true close pairs."""
    approx = _pairs(registry.get("llm_sim_lsh_approx").fn(spark, SF_DIR))
    exact = {
        (a, b) for a, b in duck.execute("""
            SELECT a.vec_id, b.vec_id
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND list_distance(a.embedding, b.embedding) < 1.2
        """).fetchall()
    }
    assert exact, "exact close-pair set unexpectedly empty — threshold too tight"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8 ({len(approx)} approx / {len(exact)} exact)"


def test_ivf_ann_recall(spark, duck):
    """IVF top-3 (k-means cells, nprobe=8) must agree with brute-force
    top-3 for >= 70% of query vectors. Multi-probe IVF on unclustered
    random data is the hardest case (no cluster structure to exploit) —
    nprobe=8 is the measured dial that clears 0.7 on this corpus
    (0.39/0.48/0.56/0.74 for nprobe 2/3/4/8); the measured value is
    printed for the bench record."""
    ivf = registry.get("llm_sim_ann_ivf").fn(spark, SF_DIR)
    ivf_pairs = _pairs(ivf)
    exact = duck.execute("""
        SELECT a_id, b_id FROM (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                    ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                                             b.vec_id) AS rn
          FROM embeddings a, embeddings b
          WHERE a.vec_id <> b.vec_id
        ) WHERE rn <= 3
    """).fetchall()
    exact_pairs = set(exact)
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    print(f"IVF recall@3 = {recall:.3f}")
    assert recall >= 0.7, f"IVF recall@3 {recall:.2f} below floor"


def test_ivf_cells_scale_and_prune(spark):
    """The IVF index must be a real index: cell count ~ √n (not a constant),
    and the probed candidate-pair volume must be a small fraction of the n²
    brute-force space — the r1 version's fixed 10 cells left O(n²/10)."""
    import numpy as np

    from lambdatotheslaughter_spark.operators.llm import (
        _IVF_MAX_CELLS, _IVF_NPROBE, _ivf_n_cells, _ivf_train_centroids)
    from lambdatotheslaughter_spark.tables import load_table

    # the √n rule and its driver-safety cap (VERDICT r2 #6): cells grow
    # with the corpus until the training sample would outgrow the driver,
    # then stop — the comment's bound is enforced, not aspirational
    assert _ivf_n_cells(10_000) == 100
    assert _ivf_n_cells(10**12) == _IVF_MAX_CELLS
    assert _ivf_n_cells(3) == 2

    e = load_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")
    n = e.count()
    n_cells = _ivf_n_cells(n)
    assert n_cells >= 20, f"cell count {n_cells} did not scale with n={n}"
    cent = _ivf_train_centroids(e, n, n_cells)
    assert cent.shape[0] == n_cells

    pdf = e.toPandas()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ cent.T
    order = np.argsort(-sims, axis=1)
    cell_sizes = np.bincount(order[:, 0], minlength=n_cells)
    # candidate volume: every query probes its top-nprobe cells
    volume = sum(int(cell_sizes[order[i, p]])
                 for i in range(n) for p in range(_IVF_NPROBE))
    frac = volume / (n * n)
    print(f"IVF candidate fraction = {frac:.4f} ({volume}/{n * n})")
    assert frac <= 4.0 * _IVF_NPROBE / n_cells, (
        f"probed volume {frac:.3f} of n² — cells are not pruning")


def test_minhash_recall_is_exact(spark, duck):
    """The LSH-banded minhash pipeline must recover the full exact pair set
    at tau=0.5 (its oracle asserts equality; this asserts the count is the
    planted 25 so a silently-empty result can never pass)."""
    res = registry.get("llm_dedup_fuzzy_minhash").fn(spark, SF_DIR).collect()
    assert len(res) == 25, f"expected the 25 planted near-dup pairs, got {len(res)}"


def test_lsh_hot_bucket_cap_is_not_quadratic(spark):
    """Adversarial corpus: 1000 identical documents → every doc lands in the
    same band bucket for all 16 bands. Without the hot-bucket cap the
    candidate set is n(n-1)/2 = 499,500 pairs; with chaining it must stay
    O(n) — and the chain must keep the bucket transitively connected so
    cluster-level dedup still collapses it to one survivor."""
    from pyspark.sql import functions as F

    from lambdatotheslaughter_spark.functions.text import shingles3, tokens
    from lambdatotheslaughter_spark.operators.llm import _lsh_candidate_pairs

    n = 1000
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(n)],
        "doc_id long, text string")
    sh = docs.select("doc_id", tokens().alias("toks")) \
        .select("doc_id", shingles3("toks").alias("sh"))
    cand = _lsh_candidate_pairs(sh).collect()
    assert len(cand) < 5 * n, (
        f"{len(cand)} candidate pairs for a degenerate bucket — quadratic")
    # connectivity: union-find over the emitted pairs must give ONE component
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for r in cand:
        parent[find(r.a_id)] = find(r.b_id)
    roots = {find(i) for i in range(n)}
    assert len(roots) == 1, f"chained candidates split into {len(roots)} components"


def test_verify_join_shuffle_path_matches_broadcast(spark, monkeypatch):
    """The LSH candidate-verify join is size-dispatched: broadcast below
    _VERIFY_BROADCAST_MAX_PAIRS candidates, shuffle join above (a
    100 TB corpus's candidate count grows with duplicate mass and cannot
    be unconditionally broadcast). Force each dispatch on the same corpus
    — a forced-large fixture with planted near-dups plus a hot identical
    block so the candidate set is non-trivial — and require the exact
    same verified (a_id, b_id, jaccard) rows from both paths."""
    from pyspark.sql import functions as F

    from lambdatotheslaughter_spark.functions.text import shingles3, tokens
    from lambdatotheslaughter_spark.operators import llm

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, base + f" tail{i % 7}") for i in range(120)]
    rows += [(1000 + i, "alpha beta gamma delta epsilon zeta eta theta")
             for i in range(80)]  # degenerate block → exercises chaining too
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = docs.select("doc_id", tokens().alias("toks")) \
        .select("doc_id", shingles3("toks").alias("sh"))

    def run():
        return {(r.a_id, r.b_id, round(r.jaccard, 9))
                for r in llm._verified_near_dup_pairs(sh)
                .where(F.col("jaccard") >= 0.5).collect()}

    monkeypatch.setattr(llm, "_VERIFY_BROADCAST_MAX_PAIRS", 0)
    shuffled = run()
    monkeypatch.setattr(llm, "_VERIFY_BROADCAST_MAX_PAIRS", 1_000_000_000)
    broadcasted = run()
    assert shuffled, "forced-large fixture produced no verified pairs"
    assert shuffled == broadcasted, (
        f"shuffle/broadcast verify paths disagree: "
        f"{len(shuffled)} vs {len(broadcasted)} pairs")


def test_knn_never_collects_to_driver(spark, monkeypatch):
    """The TILED kNN path must stay distributed: force the tiled dispatch
    (fastpath threshold → 0) and execute with toPandas poisoned on the
    CLASSIC DataFrame class — the one instances actually use in Spark 4;
    poisoning the pyspark.sql.DataFrame parent is vacuous because the
    classic subclass overrides the method (which silently blinded this
    test's earlier form). The broadcast fastpath's bounded toPandas is BY
    DESIGN and exercised elsewhere; this proves the at-scale path has no
    driver funnel (the r1 implementation had one)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from lambdatotheslaughter_spark.operators import llm

    def _boom(self):
        raise AssertionError("driver-side toPandas() on the tiled kNN path")

    monkeypatch.setattr(llm, "_KNN_FASTPATH_ROWS", 0)
    monkeypatch.setattr(ClassicDF, "toPandas", _boom)
    n = registry.get("llm_sim_knn_bruteforce").fn(spark, SF_DIR).count()
    assert n == 10
    n = registry.get("llm_sim_knn_per_query").fn(spark, SF_DIR).count()
    assert n > 0


def test_knn_tiled_merge_matches_single_tile(spark, monkeypatch):
    """Force tiny 64-row blocks (sf0.01 → 8 blocks, 36 tiles) and assert the
    multi-tile merge reproduces the default (single-tile at this SF) result
    exactly — the tile-local top-k + global merge must be lossless."""
    from lambdatotheslaughter_spark.operators import llm

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    base_global = rows(registry.get("llm_sim_knn_bruteforce").fn(spark, SF_DIR),
                       ("a_id", "b_id", "cosine"))
    base_pq = rows(registry.get("llm_sim_knn_per_query").fn(spark, SF_DIR),
                   ("a_id", "b_id", "rn"))
    monkeypatch.setattr(llm, "_KNN_BLOCK_ROWS", 64)
    tiled_global = rows(registry.get("llm_sim_knn_bruteforce").fn(spark, SF_DIR),
                        ("a_id", "b_id", "cosine"))
    tiled_pq = rows(registry.get("llm_sim_knn_per_query").fn(spark, SF_DIR),
                    ("a_id", "b_id", "rn"))
    assert tiled_global == base_global
    assert tiled_pq == base_pq


def test_approx_distinct_within_tolerance(spark, duck):
    """agg_approx_distinct is rows-only at the driver (SURVEY §2.4: never
    hash-match HLL) — this is its quantitative gate instead: HLL++ at
    rsd=0.02 must land within ±5% of the exact distinct count per group."""
    res = registry.get("agg_approx_distinct").fn(spark, SF_DIR).collect()
    exact = dict(duck.execute(
        "SELECT event_type, COUNT(DISTINCT user_id) FROM events GROUP BY 1"
    ).fetchall())
    assert len(res) == len(exact)
    for r in res:
        err = abs(r.approx_users - exact[r.event_type]) / exact[r.event_type]
        assert err <= 0.05, (
            f"{r.event_type}: HLL {r.approx_users} vs exact "
            f"{exact[r.event_type]} — {err:.1%} off")


def test_radius_search_tiled_matches_single_tile(spark, monkeypatch):
    """Radius search on forced 64-row blocks must emit exactly the same
    over-threshold pair set as the single-tile run: every unordered pair
    lives in exactly one tile, so tiling must be invisible in the output.
    Also guards the cogroup column-pruning fix — a mis-pruned right branch
    fails loudly here."""
    from lambdatotheslaughter_spark.operators import llm

    def rows(df):
        return sorted((r["a_id"], r["b_id"], r["cosine"]) for r in df.collect())

    base = rows(registry.get("llm_sim_radius_search").fn(spark, SF_DIR))
    assert len(base) > 0
    monkeypatch.setattr(llm, "_KNN_BLOCK_ROWS", 64)
    tiled = rows(registry.get("llm_sim_radius_search").fn(spark, SF_DIR))
    assert tiled == base


def test_sketch_rollup_within_tolerance_and_deterministic(spark, duck):
    """The daily-sketch → union rollup must land within 5% of the exact
    distinct count, and the estimate must be identical across shuffle
    widths (HLL sketches are deterministic functions of the value set)."""
    exact = duck.execute(
        "SELECT COUNT(DISTINCT user_id) FROM events").fetchone()[0]
    got = []
    for parts in ("7", "61"):
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            row = registry.get("agg_distinct_sketch_rollup") \
                .fn(spark, SF_DIR).collect()[0]
        got.append(row.asDict())
    assert got[0] == got[1], f"sketch rollup partition-dependent: {got}"
    assert got[0]["n_users_exact"] == exact, (got[0], exact)
    assert got[0]["estimate_within_5pct"] is True, got[0]


def test_knn_tiled_and_broadcast_paths_agree_on_duplicates(spark, monkeypatch):
    """The tiled and broadcast dispatches of the pair scaffold must return
    IDENTICAL per-query top-k on a duplicate-heavy corpus. Exact duplicate
    vectors tie at cosine 1.0, and the same pair computed in different
    tile shapes can differ by ~1 ulp of GEMM accumulation noise — ranking
    on raw floats let that noise beat the b_id tie-break (found by the 10×
    scale probe: the two paths returned different rank-1 neighbors). The
    merge now ranks on the 12-dp-rounded cosine; this pins it."""
    from pyspark.sql import functions as F

    from lambdatotheslaughter_spark.operators import llm
    from lambdatotheslaughter_spark.tables import load_table

    base = load_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")
    n = base.count()
    copies = 1 + llm._KNN_FASTPATH_ROWS // n  # push past the dispatch cutoff
    dup = None
    for i in range(copies):
        c = base.select((F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                        "embedding")
        dup = c if dup is None else dup.unionByName(c)
    dup = dup.localCheckpoint()  # one materialization for both paths

    def fake_load(spark_, name, sf_dir):
        assert name == "embeddings"
        return dup

    monkeypatch.setattr(llm, "load_table", fake_load)
    fn = llm.llm_sim_knn_per_query
    tiled = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    monkeypatch.setattr(llm, "_KNN_FASTPATH_ROWS", 10**9)
    bcast = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert len(tiled) == len(bcast) > 0
    assert tiled == bcast, "tiled vs broadcast per-query top-k diverged"


def test_ngram_jaccard_dense_and_prefix_paths_agree(spark, monkeypatch):
    """The two exact ngram-jaccard algorithms (bounded-vocab dictionary
    GEMM vs open-vocab PPJoin prefix filter) must return identical pairs
    on the same corpus. Runs both on a synthetic high-vocabulary corpus
    (each doc draws from its own word id space, with planted near-dup
    pairs), dispatch forced each way via the vocab threshold — this is the
    only coverage the prefix path gets on testdata whose real vocabulary
    (931 bigrams) always selects the dense path."""
    import pandas as pd

    from pyspark.sql import functions as F

    from lambdatotheslaughter_spark.operators import llm
    from lambdatotheslaughter_spark.tables import load_table

    rows = []
    for i in range(120):
        words = [f"w{i}_{j}" for j in range(30)]  # per-doc vocab: open space
        rows.append((2 * i, " ".join(words)))
        # planted near-dup: drop the last two words -> high bigram overlap
        rows.append((2 * i + 1, " ".join(words[:-2])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def fake_load(spark_, name, sf_dir):
        assert name == "documents"
        return docs

    monkeypatch.setattr(llm, "load_table", fake_load)
    fn = llm.llm_dedup_ngram_jaccard

    monkeypatch.setattr(llm, "_NGRAM_DENSE_VOCAB_MAX", 10**9)  # force dense
    dense = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    monkeypatch.setattr(llm, "_NGRAM_DENSE_VOCAB_MAX", 0)      # force prefix
    prefix = sorted(map(tuple, fn(spark, SF_DIR).collect()))

    assert len(dense) >= 120, f"planted near-dups missing: {len(dense)}"
    assert [p[:2] for p in dense] == [p[:2] for p in prefix]
    for (_, _, jd), (_, _, jp) in zip(dense, prefix):
        assert abs(jd - jp) < 1e-12, "jaccard values diverged between paths"


def test_bpe_merge_table_matches_reference(spark):
    """llm_tokenizer_bpe_train is rows-only (iterative — no single SQL
    oracle can express conditioning each merge on the previous one), so
    pin its ENTIRE output against an independent pure-Python reference
    BPE over the same corpus: identical word-frequency base, identical
    leftmost-greedy non-overlapping merge, identical (count desc, pair
    lex asc) tie-break."""
    from collections import Counter

    import duckdb

    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    got = [tuple(r) for r in
           registry.get("llm_tokenizer_bpe_train").fn(spark, SF_DIR)
           .collect()]

    words = Counter()
    con = duckdb.connect()
    for (w, c) in con.execute(
            "SELECT t, COUNT(*) FROM (SELECT unnest(string_split(text,' '))"
            f" AS t FROM read_parquet('{SF_DIR}/documents.parquet'))"
            " WHERE len(t) > 0 GROUP BY t").fetchall():
        words[w] = c
    vocab = {w: list(w) for w in words}
    expected = []
    for step in range(1, 9):
        pc = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += words[w]
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, a, b, a + b, c))
        for w, syms in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            vocab[w] = out
    assert got == expected, (got, expected)


def test_quantile_sketch_rank_error_bounded(spark, duck):
    """agg_quantile_sketch is rows-only at the driver (sketches never
    hash-match) — this gate bounds its RANK error instead: each reported
    quantile must be an actual column value whose rank among its
    segment's sorted prices is within max(2, n/accuracy) of the target
    rank (the GK guarantee at accuracy=10000)."""
    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    res = registry.get("agg_quantile_sketch").fn(spark, SF_DIR).collect()
    assert len(res) == 5
    for r in res:
        vals = [v for (v,) in duck.execute(
            "SELECT o_totalprice FROM orders JOIN customer"
            " ON o_custkey = c_custkey WHERE c_mktsegment = ?"
            " ORDER BY o_totalprice", [r.c_mktsegment]).fetchall()]
        n = len(vals)
        assert n == r.n_orders
        tol = max(2, n // 10000 + 1)
        for q, got in ((0.5, r.p50_approx), (0.95, r.p95_approx)):
            import bisect
            lo = bisect.bisect_left(vals, got)
            hi = bisect.bisect_right(vals, got) - 1
            assert lo <= n, r
            target = q * n
            dist = 0 if lo <= target <= hi else min(
                abs(target - lo), abs(target - hi))
            assert dist <= tol, (
                f"{r.c_mktsegment} q={q}: value {got} rank [{lo},{hi}] "
                f"vs target {target:.0f} (tol {tol})")


def test_cms_estimates_are_one_sided_and_tight(spark, duck):
    """agg_freq_sketch_cms IS value-oracled (portable-md5 cells), but the
    oracle only proves both engines build the same grid — this gate proves
    the grid is a CORRECT count-min sketch: every estimate >= the true
    frequency (the one-sided CMS guarantee, which holds with certainty),
    and the total overestimate stays under the eps*N*depth collision
    budget (eps = e/width)."""
    import math

    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    est = {r.user_id: r.est_count
           for r in registry.get("agg_freq_sketch_cms").fn(spark, SF_DIR).collect()}
    true = dict(duck.execute(
        "SELECT user_id, COUNT(*) FROM events WHERE user_id <= 50"
        " GROUP BY user_id").fetchall())
    n_events = duck.execute("SELECT COUNT(*) FROM events").fetchone()[0]
    assert set(est) == set(true)
    over = 0
    for k, e in est.items():
        assert e >= true[k], f"user {k}: est {e} < true {true[k]} — not a CMS"
        over += e - true[k]
    eps = math.e / 2048
    assert over <= eps * n_events * len(est), (
        f"total overestimate {over} exceeds the collision budget")


def test_int8_quantization_roundtrip_error_bounded(spark, duck):
    """llm_embed_quantize_int8's oracle proves both engines quantize
    identically; this gate proves the quantization is CORRECT: every code
    is inside int8 range and the dequantized reconstruction error of every
    dimension is within scale/2 (the symmetric-quantizer guarantee)."""
    import numpy as np

    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    rows = {r.vec_id: r for r in registry.get("llm_embed_quantize_int8")
            .fn(spark, SF_DIR).collect()}
    vecs = duck.execute(
        "SELECT vec_id, embedding FROM embeddings").fetchall()
    assert len(rows) == len(vecs)
    for vec_id, emb in vecs:
        r = rows[vec_id]
        assert -127 <= r.qmin <= r.qmax <= 127, r
        x = np.asarray(emb, dtype=np.float64)
        q = np.floor(x / r.scale + 0.5)
        err = np.abs(x - q * r.scale).max()
        assert err <= r.scale / 2 * (1 + 1e-9), (vec_id, err, r.scale)


def test_hll_intersection_estimate_within_bound(spark, duck):
    """agg_sketch_set_intersection is rows-only (sketch estimates never
    hash-match); this gate bounds the inclusion–exclusion overlap estimate
    at ±15% of the larger input set vs the exact overlap — the error
    budget for subtracting two ±2.3%-rsd HLL estimates."""
    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    row = registry.get("agg_sketch_set_intersection") \
        .fn(spark, SF_DIR).collect()[0]
    exact = duck.execute("""
        SELECT COUNT(*) FROM (
          SELECT user_id FROM events WHERE event_type = 'click'
          INTERSECT
          SELECT user_id FROM events WHERE event_type = 'purchase')
    """).fetchone()[0]
    larger = max(
        duck.execute("SELECT COUNT(DISTINCT user_id) FROM events"
                     " WHERE event_type = 'click'").fetchone()[0],
        duck.execute("SELECT COUNT(DISTINCT user_id) FROM events"
                     " WHERE event_type = 'purchase'").fetchone()[0])
    assert abs(row.n_overlap_est - exact) <= 0.15 * larger, (
        f"overlap est {row.n_overlap_est} vs exact {exact} "
        f"(bound ±{0.15 * larger:.0f})")


def test_quantized_knn_recall_vs_float_exact(spark):
    """llm_sim_knn_quantized is value-oracled (its int8 ranking is exact in
    both engines) — this gate measures what quantization COSTS: recall@3 of
    the int8 top-3 against the float-exact top-3 must stay >= 0.9 (int8
    symmetric quantization perturbs 64-d cosines by ~1e-2, well under
    typical neighbor gaps)."""
    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    exact = {(r.a_id, r.b_id) for r in registry.get("llm_sim_knn_per_query")
             .fn(spark, SF_DIR).collect()}
    quant = {(r.a_id, r.b_id) for r in registry.get("llm_sim_knn_quantized")
             .fn(spark, SF_DIR).collect()}
    recall = len(exact & quant) / len(exact)
    print(f"int8 kNN recall@3 = {recall:.3f}")
    assert recall >= 0.9, f"quantized recall {recall:.3f} < 0.9"


def test_pca_projection_gates(spark):
    """llm_embedding_pca_project is rows-only (eigh is not SQL); these
    gates replace the oracle: (a) loading columns orthonormal; (b)
    eigenvalues sorted descending and the projected per-component
    variance equals them (the projection really is onto the principal
    axes); (c) captured variance ratio consistent with the trace; (d)
    bit-determinism across two runs — the int64 fixed-point Gram makes
    the covariance partition-order-invariant and the HOF fold projection
    has a fixed accumulation order, so values must repeat EXACTLY."""
    import numpy as np

    from lambdatotheslaughter_spark.operators import llm

    n, mu, ev, V = llm._pca_model(spark, SF_DIR)
    k = llm._PCA_K
    assert np.abs(V.T @ V - np.eye(k)).max() < 1e-9, "components not orthonormal"
    assert np.all(np.diff(ev) <= 1e-15) and ev[-1] > 0, "eigvals not descending"

    fn = registry.get("llm_embedding_pca_project").fn
    pdf = fn(spark, SF_DIR).toPandas().sort_values("vec_id")
    assert len(pdf) == n
    P = pdf[[f"p{j}" for j in range(k)]].to_numpy()
    var = P.var(axis=0, ddof=0)
    # 6-dp output rounding perturbs a variance ~ev by < 1e-5 absolute
    assert np.abs(var - ev).max() < 1e-4, f"projected variance != eigvals: {var} vs {ev}"
    total_var = np.trace(np.cov(np.vstack(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .toPandas()["embedding"].to_numpy()).astype(float).T, ddof=0))
    ratio = ev.sum() / total_var
    assert 0.0 < ratio <= 1.0 + 1e-9, f"captured-variance ratio {ratio} out of range"

    again = fn(spark, SF_DIR).toPandas().sort_values("vec_id")
    assert (pdf.values == again.values).all(), "PCA projection not deterministic"


def test_bpe_apply_matches_reference_encoder(spark):
    """llm_tokenizer_bpe_apply is rows-only (it conditions on the
    iteratively-learned merges); pin its ENTIRE per-doc output against a
    pure-Python reference: learn the same 8 merges independently (same
    construction as test_bpe_merge_table_matches_reference), encode every
    word, and recompute each doc's word/symbol counts."""
    from collections import Counter

    import duckdb

    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    got = {r.doc_id: (r.n_words, r.n_symbols, r.symbols_per_word)
           for r in registry.get("llm_tokenizer_bpe_apply").fn(spark, SF_DIR)
           .collect()}

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    words = Counter()
    for _, text in docs:
        for w in text.split(" "):
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    for _ in range(8):
        pc = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += words[w]
        if not pc:
            break
        (a, b), _c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, syms in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            vocab[w] = out

    assert len(got) == len(docs)
    for doc_id, text in docs:
        ws = [w for w in text.split(" ") if w]
        n_words = len(ws)
        n_syms = sum(len(vocab[w]) for w in ws)
        exp = (n_words, n_syms, round(n_syms / n_words, 6))
        assert got[doc_id] == exp, f"doc {doc_id}: {got[doc_id]} != {exp}"


def test_sliding_hll_tracks_exact_within_5pct(spark):
    """agg_sliding_distinct_hll (per-day persisted sketches, trailing
    union) must track the exact contribute-then-count answer within ±5%
    on EVERY day, and repeat exactly across runs."""
    from lambdatotheslaughter_spark import registry
    from tests.conftest import SF_DIR

    est_fn = registry.get("agg_sliding_distinct_hll").fn
    est = {r.t_day: r.n_users_7d_est for r in est_fn(spark, SF_DIR).collect()}
    exact = {r.t_day: r.n_users_7d
             for r in registry.get("agg_sliding_distinct_users")
             .fn(spark, SF_DIR).collect()}
    assert set(est) == set(exact)
    for day, n in exact.items():
        assert abs(est[day] - n) <= max(1, 0.05 * n), \
            f"{day}: est {est[day]} vs exact {n}"
    again = {r.t_day: r.n_users_7d_est for r in est_fn(spark, SF_DIR).collect()}
    assert again == est, "sketch estimates not deterministic"


def test_kcore_fixed_rounds_have_converged(spark):
    """graph_k_core peels a FIXED number of rounds (oracle unrolls the
    same count); this gate proves one EXTRA round changes nothing at
    test scale, so fixed-round membership == converged k-core here. The
    edge set is built by the same graph.py helpers graph_k_core uses."""
    from pyspark.sql import functions as F

    from lambdatotheslaughter_spark.operators import graph as g
    from lambdatotheslaughter_spark.tables import load_table

    raw = (g._transitions(load_table(spark, "lineitem", SF_DIR))
           .where(F.col("src") != F.col("dst")))
    edges = g._undirected(raw).distinct().localCheckpoint(eager=False)

    def peel(e, rounds):
        for _ in range(rounds):
            deg = (e.select(F.col("a").alias("v")).unionAll(e.select("b"))
                   .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
            keep = deg.where(F.col("deg") >= g._KCORE_K).select("v")
            e = (e.join(keep.select(F.col("v").alias("a")), "a", "left_semi")
                 .join(keep.select(F.col("v").alias("b")), "b", "left_semi")
                 .select("a", "b").localCheckpoint(eager=False))
        return {tuple(r) for r in e.collect()}

    n = g._KCORE_ROUNDS
    assert peel(edges, n) == peel(edges, n + 1), \
        f"{n} peeling rounds have not converged at test scale"


def test_bbit_minhash_estimator_quality(spark):
    """The 1-bit k=48 estimator must track exact Jaccard within its
    theoretical variance: mean |Ĵ − J| ≲ 2σ/√(π/2) ≈ 0.115 at k=48
    (σ ≈ 0.144 per pair; measured 0.099 on this corpus). A broken bit
    packing or estimator formula lands far outside this band (a
    constant-0 estimate scores ~0.45 here)."""
    import numpy as np

    p = registry.get("llm_minhash_bbit").fn(spark, SF_DIR).toPandas()
    assert len(p) > 1000
    err = np.abs(p["j_exact"] - p["j_bbit"])
    assert err.mean() < 0.13, f"mean |est-exact| {err.mean():.4f}"
    # the estimator must be informative, not just small on average:
    # high-similarity pairs must score higher than unrelated ones
    hi = p[p.j_exact >= 0.6]["j_bbit"].mean()
    lo = p[p.j_exact <= 0.3]["j_bbit"].mean()
    assert hi > lo + 0.2, (hi, lo)


def test_ngram_jaccard_fastpath_and_tiled_agree(spark, monkeypatch):
    """The dense dictionary-GEMM now has TWO physical dispatches (round-5
    rewrite): the broadcast fastpath ships raw shingle STRINGS and
    dict-encodes in the kernel; the tiled path dictionary-encodes to int
    sids JVM-side before the block-pair cogroup. Same corpus, both
    dispatches forced, identical pairs required — this is the agreement
    test the per-query kNN paths already have."""
    from lambdatotheslaughter_spark.operators import llm

    fn = llm.llm_dedup_ngram_jaccard
    fast = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    monkeypatch.setattr(llm, "_KNN_FASTPATH_ROWS", 0)  # force tiled
    tiled = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert len(fast) == len(tiled) > 0
    assert fast == tiled, "fastpath vs tiled dense jaccard diverged"


def test_pair_scaffold_empty_corpus_is_empty(spark, monkeypatch):
    """Round-5 pool_prep edge: an empty corpus must yield an empty pair
    result through the broadcast fastpath (the driver-side pool prep
    runs unconditionally, so it must tolerate zero rows — np.vstack
    raises on an empty list without the guard in _norm_prep)."""
    from pyspark.sql import functions as F

    from lambdatotheslaughter_spark.operators import llm

    empty_docs = spark.createDataFrame([], "doc_id long, text string, "
                                       "lang string, source string, "
                                       "n_chars long")
    empty_emb = spark.createDataFrame([], "vec_id long, "
                                      "embedding array<float>, label int")

    def fake_load(spark_, name, sf_dir):
        return empty_docs if name == "documents" else empty_emb

    monkeypatch.setattr(llm, "load_table", fake_load)
    assert llm.llm_dedup_ngram_jaccard(spark, SF_DIR).count() == 0
    assert llm.llm_sim_knn_bruteforce(spark, SF_DIR).count() == 0
    assert llm.llm_sim_radius_search(spark, SF_DIR).count() == 0


def test_lttb_matches_reference_selection(spark, duck):
    """ts_downsample_lttb is rows-only (sequential selection — no SQL
    oracle); pin the ENTIRE selection: the daily series is recomputed
    INDEPENDENTLY in DuckDB, run through the same pure-Python
    lttb_select, and the (event_type, day, pos) triples must match the
    operator's output exactly."""
    from lambdatotheslaughter_spark.operators.timeseries import (_LTTB_K,
                                                                 lttb_select)

    got = {(r.event_type, r.day, r.pos)
           for r in registry.get("ts_downsample_lttb").fn(spark, SF_DIR)
           .collect()}
    series = duck.execute("""
        SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               AVG(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents_mean
        FROM events GROUP BY event_type, CAST(ts AS DATE)
        ORDER BY event_type, day
    """).fetchall()
    bytype = {}
    for et, day, cm in series:
        bytype.setdefault(et, []).append((day, float(cm)))
    want = set()
    for et, pts in bytype.items():
        xs = [float(i) for i in range(len(pts))]
        ys = [p[1] for p in pts]
        for pos in lttb_select(xs, ys, _LTTB_K):
            want.add((et, pts[pos][0], pos))
    assert got == want
    # every series must keep its endpoints (the LTTB contract)
    for et, pts in bytype.items():
        assert (et, pts[0][0], 0) in got
        assert (et, pts[-1][0], len(pts) - 1) in got


def test_pq_quantize_error_bound_and_determinism(spark):
    """PQ report gates: the 8×16 codebook must actually compress
    (relative reconstruction error well below the ~1.0 a mean-only
    codebook leaves on normalized random vectors; measured 0.548 at
    sf0.01 — uniform random is PQ's hardest case), the bit arithmetic
    must hold (8 subspaces × log2(16) = 32 bits/vector = 64×
    compression of 64×float32), and the whole row must be
    BIT-IDENTICAL across shuffle widths (fixed-point error sums are
    order-free by construction)."""
    from lambdatotheslaughter_spark import registry

    rows = []
    for parts in ("7", "61"):
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            rows.append(registry.get("llm_embedding_pq_quantize")
                        .fn(spark, SF_DIR).collect()[0].asDict())
    assert rows[0] == rows[1], f"PQ report partition-dependent: {rows}"
    r = rows[0]
    assert r["bits_per_vector"] == 32 and r["m_subspaces"] == 8
    assert 0.0 < r["relative_mse"] <= 0.65, r


def test_theta_sketch_estimation_mode_error(spark):
    """agg_theta_sketch_algebra's oracle holds because driver-scale
    cohorts sit in the sketch's exact mode; this gate covers the
    ESTIMATION mode the 100 TB claim rests on: 1M distinct values
    through the same k=4096 sketch must estimate within 2% relative
    error, and the union of two half-range sketches must land within 2%
    of the true union."""
    from pyspark.sql import functions as F
    big = spark.range(2_000_000).select((F.col("id") % 1_000_000).alias("v"))
    est = big.agg(F.theta_sketch_estimate(
        F.theta_sketch_agg("v")).alias("e")).collect()[0]["e"]
    assert abs(est - 1_000_000) / 1_000_000 < 0.02, est
    halves = big.agg(
        F.theta_sketch_agg(F.when(F.col("v") < 600_000, F.col("v")))
        .alias("a"),
        F.theta_sketch_agg(F.when(F.col("v") >= 400_000, F.col("v")))
        .alias("b"))
    u = halves.select(F.theta_sketch_estimate(
        F.theta_union("a", "b")).alias("u")).collect()[0]["u"]
    assert abs(u - 1_000_000) / 1_000_000 < 0.02, u


def test_mllib_lsh_recall(spark, duck):
    """MLlib BucketedRandomProjectionLSH candidates must recover >= 80%
    of the true sub-1.2-distance pairs (the llm_sim_lsh_approx gate,
    applied to the library implementation), and be re-run-identical
    (seeded)."""
    fn = registry.get("llm_sim_lsh_mllib").fn
    got = _pairs(fn(spark, SF_DIR))
    again = _pairs(fn(spark, SF_DIR))
    assert got == again, "seeded MLlib LSH must be re-run-identical"
    exact = {
        (a, b) for a, b in duck.execute("""
            SELECT a.vec_id, b.vec_id
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND list_distance(a.embedding, b.embedding) < 1.2
        """).fetchall()
    }
    assert exact
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"MLlib LSH recall {recall:.2f} < 0.8"


def test_dtw_kernel_matches_independent_recursive_reference():
    """ts_dtw_banded_pairs' shared kernel vs an independently-written
    memoized recursive DTW on small series (inside and outside the
    band's bite): exact integer equality."""
    from functools import lru_cache

    from lambdatotheslaughter_spark.operators.timeseries import dtw_banded_cost

    def ref(xs, ys, band):
        @lru_cache(maxsize=None)
        def d(i, j):
            if i == 0 and j == 0:
                return 0
            if i == 0 or j == 0:
                return 1 << 62
            if abs(i - j) > band:
                return 1 << 62
            return (abs(xs[i - 1] - ys[j - 1])
                    + min(d(i - 1, j - 1), d(i - 1, j), d(i, j - 1)))
        return d(len(xs), len(ys))

    cases = [
        ([1, 2, 3], [1, 2, 3], 48),
        ([1, 2, 3, 4, 5], [2, 3, 4], 48),
        ([10, 0, 10, 0, 10], [0, 10, 0, 10, 0], 2),
        ([5] * 30, list(range(30)), 4),
        ([3, 1, 4, 1, 5, 9, 2, 6], [2, 7, 1, 8, 2, 8], 3),
    ]
    for xs, ys, band in cases:
        assert dtw_banded_cost(xs, ys, band) == ref(tuple(xs), tuple(ys),
                                                    band), (xs, ys, band)


def test_dtw_pairs_symmetric_and_zero_on_self(spark):
    """DTW(x, x) must be 0 and the banded cost must not depend on
    argument order (|Δ| cost is symmetric) — checked on the real sf0.001
    series."""
    from lambdatotheslaughter_spark.operators.timeseries import (
        dtw_banded_cost, hourly_cents)
    from lambdatotheslaughter_spark.tables import load_table
    from pyspark.sql import functions as F
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    hourly = hourly_cents(ev)
    series = {r["event_type"]: [int(x) for x in r["s"]]
              for r in (hourly.groupBy("event_type")
                        .agg(F.array_sort(F.collect_list(
                            F.struct("hr", "cents"))).alias("pts"))
                        .select("event_type", F.col("pts.cents").alias("s"))
                        .collect())}
    ks = sorted(series)[:3]
    for k in ks:
        assert dtw_banded_cost(series[k], series[k]) == 0
    assert dtw_banded_cost(series[ks[0]], series[ks[1]]) == \
        dtw_banded_cost(series[ks[1]], series[ks[0]])
