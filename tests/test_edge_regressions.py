"""Regression tests for the two data-edge bugs that running every key at
each scale factor caught. Each crafts a minimal sf_dir whose data exhibits
the edge (the stock testdata only shows these at one SF each — zero-cent
events exist only at sf0.1, and an empty true-pair set only at sf0.001),
so the edge stays covered at the default test SF forever.
"""

from __future__ import annotations

import datetime
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lambdatotheslaughter_spark import registry


def _write_events(path, rows):
    """rows: list of (event_id, ts_us, user_id, event_type, value)."""
    table = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array(["{}" for _ in rows], pa.string()),
    })
    pq.write_table(table, str(path))


def test_geometric_harmonic_means_skip_zero_cents(spark, tmp_path):
    """agg_geometric_harmonic_mean raised ANSI DIVIDE_BY_ZERO on sf0.1's
    zero-cent events (1e12/xc per distinct domain value). The panel is
    defined on the positive support only: a zero-cent row must be
    excluded, not crash the fold and not distort n."""
    t0 = datetime.datetime(2024, 1, 1)
    us = lambda m: t0 + datetime.timedelta(minutes=m)
    _write_events(tmp_path / "events.parquet", [
        (1, us(0), 10, "purchase", 0.00),   # the hazard row: 0 cents
        (2, us(1), 11, "purchase", 2.00),
        (3, us(2), 12, "purchase", 8.00),
        (4, us(3), 13, "view", 5.00),
    ])
    out = registry.get("agg_geometric_harmonic_mean").fn(
        spark, str(tmp_path)).orderBy("event_type").collect()
    by_type = {r["event_type"]: r for r in out}
    p = by_type["purchase"]
    assert p["n"] == 2, "zero-cent row must not count as a priced event"
    assert abs(p["arith_mean_cents"] - 500.0) < 1e-6
    assert abs(p["geo_mean_cents"] - math.sqrt(200 * 800)) < 1e-3
    assert abs(p["harm_mean_cents"] - 320.0) < 1e-3
    v = by_type["view"]
    assert v["n"] == 1 and abs(v["geo_mean_cents"] - 500.0) < 1e-3


_EMPTY_GUARDED = [
    # (key, tables whose empty parquet the op reads)
    ("graph_pagerank_fixed", ("lineitem",)),
    ("graph_personalized_pagerank", ("lineitem", "part")),
    ("llm_sim_lsh_approx", ("embeddings",)),
    ("llm_sim_lsh_mllib", ("embeddings",)),
    ("llm_sim_ann_ivf", ("embeddings",)),
    ("llm_hard_negative_mining", ("embeddings",)),
    ("llm_embedding_pq_quantize", ("embeddings",)),
    ("llm_eval_ndcg_at10", ("embeddings",)),
    # plan rewrites: re-pin the empty-shard class for the new shapes
    # (the full-registry empty-input audit predates them)
    ("graph_closeness_harmonic_3hop", ("lineitem",)),
    ("graph_label_propagation_sync", ("lineitem",)),
    ("llm_eval_chrf", ("documents",)),
    ("llm_embedding_matryoshka_recall", ("embeddings",)),
    ("llm_eval_retrieval_mrr", ("embeddings",)),
    ("llm_dedup_embedding_cosine", ("embeddings",)),
    ("llm_dedup_semantic", ("embeddings",)),
]


def test_empty_shard_guards(spark, tmp_path):
    """The eight driver-side-scaffold ops a full-registry empty-input
    audit crashed (teleport-constant division, empty-query-block np.vstack,
    MLlib fit on an empty dataset) must return their exact-schema empty
    result on a zero-row shard — the empty-daily-partition case."""
    import pyarrow.parquet as _pq

    src = "/root/testdata/sf0.001"
    tables = sorted({t for _, ts in _EMPTY_GUARDED for t in ts})
    for t in tables:
        schema = _pq.ParquetFile(f"{src}/{t}.parquet").schema_arrow
        _pq.write_table(schema.empty_table(), str(tmp_path / f"{t}.parquet"))
    for key, _ in _EMPTY_GUARDED:
        df = registry.get(key).fn(spark, str(tmp_path))
        rows = df.collect()
        expected = 1 if key == "llm_embedding_pq_quantize" else 0
        assert len(rows) == expected, f"{key}: {len(rows)} rows on empty shard"
        assert df.columns, f"{key}: lost its output schema on empty shard"


def test_er_blocking_completeness_vacuous_truth(spark, tmp_path):
    """er_blocking_quality_report returned NULL pairs_completeness when a
    segment has ZERO within-band true pairs (sf0.001's shape): the
    when(n_true == 0, 1.0) guard sat on the raw post-left-join column,
    which is NULL there, not 0. Vacuous truth must read exactly 1.0."""
    segs = ["AUTOMOBILE", "BUILDING"]
    rows = []
    k = 1
    for s in segs:
        for i in range(4):
            # balances 50.00 apart -- far beyond the 1.00 band: no true pair
            rows.append((k, f"Customer#{k}", 1, 100.0 + 50.0 * i, s))
            k += 1
    table = pa.table({
        "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
        "c_name": pa.array([r[1] for r in rows], pa.string()),
        "c_nationkey": pa.array([r[2] for r in rows], pa.int32()),
        "c_acctbal": pa.array([r[3] for r in rows], pa.float64()),
        "c_mktsegment": pa.array([r[4] for r in rows], pa.string()),
    })
    pq.write_table(table, str(tmp_path / "customer.parquet"))
    out = registry.get("er_blocking_quality_report").fn(
        spark, str(tmp_path)).collect()
    assert len(out) == 2
    for r in out:
        assert r["n_true"] == 0 and r["n_caught"] == 0
        pc = r["pairs_completeness"]
        assert pc is not None and not math.isnan(pc)
        assert pc == 1.0, f"{r['c_mktsegment']}: vacuous completeness {pc}"


def test_graph_vector_broadcast_hint_is_size_gated(spark):
    """An explicit F.broadcast() hint overrides
    autoBroadcastJoinThreshold unconditionally and hard-fails past
    8 GiB / 512M rows instead of falling back, so the graph kernels'
    degrade-to-hash-join story requires the hint itself to lift at
    scale. broadcast_if_bounded must hint under the bound and return
    the frame UN-hinted above it."""
    from lambdatotheslaughter_spark.determinism import broadcast_if_bounded
    from tests.conftest import SF_DIR
    df = spark.range(10).toDF("node")
    hinted = broadcast_if_bounded(df, SF_DIR)           # part @ sf0.01: tiny
    assert "UnresolvedHint broadcast" in \
        hinted._jdf.queryExecution().logical().toString()
    lifted = broadcast_if_bounded(df, SF_DIR, max_rows=0)
    assert "UnresolvedHint" not in \
        lifted._jdf.queryExecution().logical().toString()
    # and the gated plan is value-identical either way
    other = spark.range(5).toDF("node")
    a = sorted(r.node for r in other.join(hinted, "node").collect())
    b = sorted(r.node for r in other.join(lifted, "node").collect())
    assert a == b


def test_closeness_dedup_gate_branches_are_value_identical(spark, monkeypatch):
    """graph_closeness_harmonic_3hop estimate-gates its edge-dedup
    (skip the shuffle at bench scale, dedup once at volume — the 100×
    probe OOMed the undeduped checkpoint). bit_or masks are idempotent
    over duplicate edges, so the two branches MUST be value-identical;
    this pins the dedup branch, which no sf tier below the gate
    exercises."""
    from lambdatotheslaughter_spark.operators import graph
    from tests.conftest import SF_DIR
    fn = registry.get("graph_closeness_harmonic_3hop").fn
    fast = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    monkeypatch.setattr(graph, "_CLOSENESS_DEDUP_MIN_ROWS", 0)
    deduped = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert deduped == fast


def test_connected_components_distributed_path_matches_oracle(
        spark, duck, monkeypatch):
    """Both connected-components keys solve a bounded edge list with a
    driver union-find; above the cap they run the pointer-jumping loop
    (llm._pointer_jump_labels), which no stock tier reaches. Force the
    loop with a zero cap and hold both keys to their exact oracles."""
    from lambdatotheslaughter_spark.operators import graph, llm
    from tests.conftest import SF_DIR, assert_parity
    monkeypatch.setattr(llm, "_CC_FASTPATH_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "_GRAPH_CC_FASTPATH_MAX_EDGES", 0)
    for name in ("llm_dedup_cluster", "graph_connected_components"):
        reg = registry.get(name)
        assert_parity(reg.fn(spark, SF_DIR), duck, reg.oracle, name)


def test_containment_dedup_gate_branches_are_value_identical(spark, monkeypatch):
    """llm_dedup_containment estimate-gates an
    exact-dedup-first plan — group byte-identical docs, run the inverted
    index over one representative per group, expand rep pairs back over
    member lists (cross) and emit all intra-group pairs at containment
    1.0. Identical text implies identical distinct-shingle sets, so the
    two branches MUST be value-identical; this pins the dedup-first
    branch, which the stock corpora (multiplicity ~1) never take."""
    from lambdatotheslaughter_spark.operators import llm
    from tests.conftest import SF_DIR
    fn = registry.get("llm_dedup_containment").fn
    monkeypatch.setattr(llm, "_CONTAIN_DEDUP_RATIO", float("inf"))
    direct = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    monkeypatch.setattr(llm, "_CONTAIN_DEDUP_RATIO", 0.0)
    dedup_first = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert dedup_first == direct
    assert len(direct) > 0


def test_containment_gate_fires_by_default_on_duplicate_heavy_corpus(
        spark, tmp_path):
    """The gate must FIRE without any override once duplicate multiplicity
    crosses _CONTAIN_DEDUP_RATIO (default 1.5): a 3x-duplicated corpus
    (every text thrice under distinct doc_ids) must take the dedup-first
    branch and still agree with the direct plan run on the same files.
    Also pins the expansion arithmetic: each original doc with >= 1
    shingle owes exactly C(3,2)=3 intra pairs at containment exactly
    1.0."""
    import pyarrow.parquet as pq2
    from tests.conftest import SMOKE_SF_DIR
    from lambdatotheslaughter_spark.operators import llm

    src = pq2.read_table(f"{SMOKE_SF_DIR}/documents.parquet")
    parts = []
    for i in range(3):
        t = src.set_column(src.schema.get_field_index("doc_id"), "doc_id",
                           pa.compute.add(src["doc_id"], i * 10_000_000))
        parts.append(t)
    pq2.write_table(pa.concat_tables(parts), str(tmp_path / "documents.parquet"))

    fn = registry.get("llm_dedup_containment").fn
    # default gate: multiplicity 3 >= 1.5 -> dedup-first fires on its own
    assert llm._CONTAIN_DEDUP_RATIO == 1.5
    gated = sorted(map(tuple, fn(spark, str(tmp_path)).collect()))
    try:
        llm._CONTAIN_DEDUP_RATIO = float("inf")
        direct = sorted(map(tuple, fn(spark, str(tmp_path)).collect()))
    finally:
        llm._CONTAIN_DEDUP_RATIO = 1.5
    assert gated == direct
    # every doc with >= 3 tokens (hence >= 1 shingle) owes its two copies:
    # 3 intra pairs per original, containment exactly 1.0
    n_docs = len([t for t in src["text"].to_pylist()
                  if t is not None and len(t.split(" ")) >= 3])
    intra = [r for r in gated
             if r[0] % 10_000_000 == r[1] % 10_000_000 and r[3] == 1.0]
    assert len(intra) >= 3 * n_docs


def test_bcast_row_budget_is_memory_derived(spark):
    """The broadcast gate must derive from the configured
    heap (a 1 GiB wire broadcast inflates several-fold deserialized), fall
    back to and never exceed the 16M-row conservative cap."""
    from lambdatotheslaughter_spark import determinism as det
    assert det._parse_jvm_mem("8g") == 8 << 30
    assert det._parse_jvm_mem("512m") == 512 << 20
    assert det._parse_jvm_mem("1024") == 1024
    budget = det.bcast_row_budget(spark)
    assert 0 < budget <= det.BCAST_V_MAX_ROWS
    # the 8g test session: 8 GiB * 0.15 / (16 B * 6x) ≈ 13.4M rows
    heap = det._parse_jvm_mem(spark.conf.get("spark.driver.memory", "1g"))
    expect = int(heap * det._BCAST_HEAP_SHARE / 96)
    assert budget == min(expect, det.BCAST_V_MAX_ROWS)


def test_adamic_adar_packed_and_fallback_branches_agree(spark, tmp_path):
    """The candidate fold packs (x, y) into one bigint only when
    the data-derived max node id fits in 31 bits; cluster-scale ids take
    the original two-column shape. Run the SAME co-purchase graph twice —
    once with small part ids (packed fastpath) and once with every id
    offset past 2^31 (fallback) — and require the outputs to agree
    row-for-row up to the offset: identical pair structure, identical
    n_common, bit-identical scores. This value-gates BOTH branches of the
    gate the same way the closeness estimate-gate parity test does."""
    off = 1 << 31

    def write_lineitem(path, shift):
        rows = []
        # consecutive-line gaps +1, +2, +4 build the circulant C25(1,2,4):
        # a non-edge pair at distance 3 has >= 2 common neighbors, so the
        # n_common >= 2 output filter keeps real rows
        for ok in range(60):
            for ln, step in enumerate((0, 1, 3, 7)):
                pk = (ok * 11 + step) % 25 + 1
                rows.append((ok, ln, pk + shift, 1))
        table = pa.table({
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_linenumber": pa.array([r[1] for r in rows], pa.int32()),
            "l_partkey": pa.array([r[2] for r in rows], pa.int64()),
            "l_suppkey": pa.array([r[3] for r in rows], pa.int64()),
        })
        pq.write_table(table, str(path))

    small = tmp_path / "small"
    big = tmp_path / "big"
    small.mkdir()
    big.mkdir()
    write_lineitem(small / "lineitem.parquet", 0)
    write_lineitem(big / "lineitem.parquet", off)
    fn = registry.get("graph_adamic_adar_linkpred").fn
    packed = [tuple(r) for r in fn(spark, str(small)).collect()]
    fallback = [tuple(r) for r in fn(spark, str(big)).collect()]
    assert len(packed) > 0  # the synthetic graph must actually emit pairs
    assert [(a + off, b + off, n, s) for (a, b, n, s) in packed] == fallback
