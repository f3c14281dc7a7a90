"""SURVEY.md §2 is the normative operator contract (§0): every key in its
tables must exist in the registry. This test makes coverage a build
invariant, not a hope."""

from __future__ import annotations

import os
import re

from lambdatotheslaughter_spark import registry

# Anchor paths from this file so any checkout tests its own tree.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def survey_keys() -> set[str]:
    keys = set()
    in_s2 = False
    for line in open(os.path.join(_REPO_ROOT, "SURVEY.md")):
        if line.startswith("## §2"):
            in_s2 = True
        elif line.startswith("## §3"):
            in_s2 = False
        if in_s2 and line.startswith("| `"):
            m = re.match(r"\| `([a-z0-9_]+)`(?: / `([a-z0-9_]+)`)?", line)
            if m:
                keys.add(m.group(1))
                if m.group(2):
                    keys.add(m.group(2))
    return keys


def test_every_survey_key_is_registered():
    keys = survey_keys()
    assert len(keys) >= 70, f"survey parse broke: only {len(keys)} keys found"
    missing = sorted(keys - set(registry.all_queries()))
    assert not missing, f"SURVEY §2 keys not implemented: {missing}"


def test_oracle_coverage_ratio():
    """Rows-only checks are reserved for approximate / Python-stateful ops
    (SURVEY §5 strategy); everything else must carry a DuckDB oracle."""
    qs, oracles = registry.all_queries(), registry.all_oracles()
    rows_only = sorted(set(qs) - set(oracles))
    # (round 7 promoted llm_multimodal_decode and llm_sim_lsh_mllib to
    # value-exact oracles — the synthetic codec and the frozen seeded
    # projection are both DuckDB-replayable; 12 remain)
    allowed = {"agg_approx_distinct", "llm_sim_lsh_approx", "llm_sim_ann_ivf",
               # LTTB selection is sequential (each pick conditions the
               # next bucket's anchor) — pinned against the shared
               # pure-Python routine over an INDEPENDENT DuckDB series
               # in test_llm_quality.py instead of a hash row
               "ts_downsample_lttb",
               # PQ codebooks are iterative k-means (same class as IVF);
               # fixed-point error sums make the report bit-deterministic,
               # gated in test_llm_quality.py
               "llm_embedding_pq_quantize",
               # iterative (each merge conditions on the last) — the full
               # merge table is value-pinned against a pure-Python
               # reference BPE in test_llm_quality.py instead
               "llm_tokenizer_bpe_train",
               # GK quantile sketch — rank-error gate in
               # test_llm_quality.py instead of a hash match
               "agg_quantile_sketch",
               # HLL inclusion–exclusion overlap — ±15%-of-larger-set gate
               # in test_llm_quality.py instead of a hash match
               "agg_sketch_set_intersection",
               # eigendecomposition is not SQL-expressible — orthonormality/
               # variance/determinism gates in test_llm_quality.py instead
               "llm_embedding_pca_project",
               # encode conditions on the iteratively-learned merges —
               # pinned vs the pure-Python reference encoder instead
               "llm_tokenizer_bpe_apply",
               # HLL estimates — ±5%-of-exact + determinism gate in
               # test_llm_quality.py instead of a hash match
               "agg_sliding_distinct_hll",
               # O(n*band) DP recurrence has no DuckDB expression — the
               # integer kernel is pinned against an independent
               # recursive DTW + symmetry/self-zero + two-run identity
               "ts_dtw_banded_pairs"}
    assert set(rows_only) <= allowed, f"unexpected rows-only queries: {rows_only}"
