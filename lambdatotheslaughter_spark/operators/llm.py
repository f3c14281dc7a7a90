"""LLM-training-data pipeline operators (SURVEY.md §2.10 + the large-scale
training-data additions: dedup family, similarity search, text analysis,
multimodal columns).

Design notes for 100 TB:
- Dedup/similarity never materialize the naive O(n²) pair space at scale:
  MinHash-LSH banding (candidate generation is a hash-bucket equi join) and
  label/lang blocking keep the quadratic term inside small partitions. The
  brute-force variants exist as correctness baselines at test scale.
- All hashing is deterministic and engine-portable where the oracle needs to
  see it (md5-derived 60-bit ints); Spark-private hashing (xxhash64) is used
  only inside LSH candidate generation whose output is exact-verified.
- Measured ground truth at sf0.01 (survey): 25 planted near-dup pairs, all
  3-gram-shingle Jaccard >= 0.8; no exact text dups; embedding cosine max
  0.513 (no planted vector dups).
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import (
    DEC, davg, estimate_rows, oracle_davg)
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table

# shared text primitives live in the engine's function library
from lambdatotheslaughter_spark.functions.text import (  # noqa: E402
    SHINGLE2_SQL as _SHINGLE2_SQL,
    SHINGLE3_SQL as _SHINGLE3_SQL,
    jaccard as _jaccard_spark,
    jaccard_sql as _jaccard_sql,
    md5_int60,
    md5_minhashes,
    shingles2 as _shingles2,
    shingles3 as _shingles3,
    tokens as _tokens,
)


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def _prefix_fingerprint() -> Column:
    """The exact-dedup content key: md5 of the first 8 whitespace tokens
    of the lower-cased, trimmed text."""
    return F.md5(F.array_join(
        F.slice(F.split(F.lower(F.trim(F.col("text"))), " "), 1, 8), " "))


@register("llm_dedup_exact", oracle="""
WITH keyed AS (
  SELECT doc_id,
         md5(array_to_string(string_split(lower(trim(text)), ' ')[1:8], ' ')) AS fp
  FROM documents
)
SELECT fp, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_doc_id
FROM keyed
GROUP BY fp
HAVING COUNT(*) > 1
""")
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized content fingerprint (md5 of the first 8
    tokens — full-text md5 has zero collisions in this corpus, so the
    prefix key is what actually exercises keep-first semantics).
    One hash-groupBy, fully map-side combinable — the canonical exact-dedup
    shape at 100 TB."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select("doc_id", _prefix_fingerprint().alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("n_copies") > 1)
    )


_MINHASH_SEEDS = 16
_LSH_BANDS = 8  # 8 bands x 2 rows: P(candidate | jaccard=0.8) >= 1 - 2.8e-4
# (was 32 perms / 16 bands; halving the signature halves the dominant cost —
# the per-seed xxhash64 aggregates — for ~0.4 s at sf0.1. The pair set is
# DETERMINISTIC (fixed seeds), and exact equality with the brute-force
# oracle is pinned at sf0.01 (driver gate) and sf0.1 (the 25 planted pairs,
# test_llm_quality.py) — so the reduced banding provably loses nothing on
# this corpus, and the τ=0.5 S-curve still sits well below the planted
# near-dup band (all pairs >= 0.8).

_FUZZY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_SHINGLE3_SQL} AS sh FROM documents
  WHERE len(string_split(text, ' ')) >= 3
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       {_jaccard_sql('a.sh', 'b.sh')} AS jaccard
FROM t a, t b
WHERE a.doc_id < b.doc_id
  AND {_jaccard_sql('a.sh', 'b.sh')} >= 0.5
"""


@register("llm_dedup_fuzzy_minhash", oracle=_FUZZY_ORACLE)
def llm_dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: 3-gram shingles → 16-perm MinHash → 8×2 LSH
    banding → candidate pairs → EXACT Jaccard >= 0.5 verification.

    The oracle brute-forces all pairs; the Spark side only ever compares
    LSH candidates, which is the 100 TB path (banding turns candidate
    generation into an equi join on band hash). At τ=0.5 and the corpus's
    planted dups (all >= 0.8), miss probability per true pair is ~1e-7.
    """
    d = load_table(spark, "documents", sf_dir).where(F.size(_tokens()) >= 3)
    # localCheckpoint: shingle arrays feed three branches (signature + both
    # sides of the verify join) — materialize once instead of recomputing
    # the tokenize+shingle pipeline per branch
    sh = d.select("doc_id", _tokens().alias("toks")) \
        .select("doc_id", _shingles3("toks").alias("sh")) \
        .localCheckpoint(eager=False)
    return _verified_near_dup_pairs(sh).where(F.col("jaccard") >= 0.5)


_LSH_BUCKET_CAP = 64  # all-pairs only below this; measured max bucket ~3 at sf0.1


def _lsh_bands(sh: DataFrame) -> DataFrame:
    """MinHash signature → (doc_id, band-hash) rows. The signature stage
    shared by full-corpus LSH (`_lsh_candidate_pairs`) and incremental
    batch-vs-history LSH (`llm_dedup_incremental_fuzzy`): pre-hash each
    shingle once, explode, take per-seed minima as codegen MIN aggregates
    (see `_lsh_candidate_pairs` for the measured rationale)."""
    hashed = sh.select(
        "doc_id",
        F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("h"))
    mh = hashed.groupBy("doc_id").agg(*[
        F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"mh{i}")
        for i in range(_MINHASH_SEEDS)])
    return mh.select("doc_id", F.explode(F.array(*[
        F.xxhash64(F.lit(b), F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}"))
        for b in range(_LSH_BANDS)])).alias("bh"))


def _lsh_candidate_pairs(sh: DataFrame) -> DataFrame:
    """MinHash signatures + LSH banding → candidate (a_id, b_id) pairs.

    Signature stage: pre-hash each shingle once (ONE interpreted HOF pass),
    then explode and take the per-seed minima as codegen MIN aggregates.
    Measured 2× faster than the previous array_min(transform(...)) chain —
    higher-order lambdas evaluate interpreted, and CollapseProject inlines
    the shared pre-hash into all of them, while the explode keeps every
    per-seed mix inside whole-stage codegen. (A Kirsch–Mitzenmacher
    affine family from two base hashes was tried to cut the per-seed
    xxhash64s — masked to 32 bits it degraded recall below the exact-recall
    gate, and unmasked it trips ANSI overflow; full-width per-seed hashing
    stays.) The groupBy shuffle carries only _MINHASH_SEEDS longs per
    document (partial agg collapses map-side), noise next to the corpus
    itself at any scale.

    Hot-bucket guard: a band bucket of size s yields s²/2 candidate pairs,
    so one degenerate bucket (boilerplate text, a template corpus) goes
    quadratic. Buckets above _LSH_BUCKET_CAP switch from all-pairs to
    consecutive CHAINING (sort by doc_id, pair each doc with its
    successor): s−1 pairs instead of s²/2, while keeping every member of
    the bucket transitively connected — so downstream connected-components
    dedup (llm_dedup_cluster) still collapses the whole bucket to one
    cluster. The real corpus never hits the cap (max bucket 3 at sf0.1);
    the adversarial constant-text case is pinned in tests/test_llm_quality.py.
    """
    from pyspark.sql import Window

    bands = _lsh_bands(sh) \
        .localCheckpoint(eager=False)  # self-join + hot-list + chain reuse
    # hot-bucket ids: map-side-combined count, output tiny (normally empty),
    # broadcast both ways so the main band flow never re-shuffles for it.
    # (A fused count+lead window over bh was tried instead — one shuffle on
    # paper — but sorting every band row made it ~1 s slower at sf0.1 and
    # it would sort the whole banded corpus at scale; the groupBy's partial
    # aggregation never moves more than the distinct bucket ids.)
    hot = (bands.groupBy("bh").agg(F.count(F.lit(1)).alias("bsz"))
           .where(F.col("bsz") > _LSH_BUCKET_CAP).select("bh")
           .localCheckpoint(eager=False))
    cold = bands.join(F.broadcast(hot), "bh", "left_anti")
    x = cold.select(F.col("doc_id").alias("a_id"), "bh")
    y = cold.select(F.col("doc_id").alias("b_id"), F.col("bh").alias("bh2"))
    all_pairs = (x.join(y, (x.bh == y.bh2) & (x.a_id < y.b_id))
                 .select("a_id", "b_id"))
    w_chain = Window.partitionBy("bh").orderBy("doc_id")
    chained = (bands.join(F.broadcast(hot), "bh")
               .select("bh", F.col("doc_id").alias("a_id"),
                       F.lead("doc_id").over(w_chain).alias("b_id"))
               .where(F.col("b_id").isNotNull())
               .select("a_id", "b_id"))
    return all_pairs.unionByName(chained).distinct()


_VERIFY_BROADCAST_MAX_PAIRS = 1_000_000  # ~16 MB of (long, long) pairs


def _verified_near_dup_pairs(sh: DataFrame) -> DataFrame:
    """LSH candidates exact-verified: (a_id, b_id, jaccard) over the
    shingle-array DataFrame. Shared by the standalone dedup operator and
    the end-to-end pipeline (one implementation, no drift).

    Size-dispatched verify join (same discipline as the CC fastpath and
    the kNN broadcast fastpath): candidate count grows with the corpus's
    duplicate MASS, not just its size, so it cannot be unconditionally
    broadcast at 100 TB.

    • count ≤ _VERIFY_BROADCAST_MAX_PAIRS: BROADCAST the candidates and
      stream the corpus map-side, twice. The reverse order (shuffling the
      shingle arrays to meet the pairs) measured ~0.5 s slower at sf0.1
      and would move the whole corpus for a tiny pair set.
    • above the cap: shuffle path — hash-partition on the join id.
      The first join hints SHUFFLE_HASH with the bare (a_id, b_id) pairs
      as the build side (16 B/row per-partition hash table); the second
      join carries shingle-array payloads on BOTH sides, so it stays
      sort-merge (spills gracefully instead of OOMing a hash table of
      arrays). Nothing is broadcast, nothing is collected.
    The pairs are localCheckpoint-ed before the dispatch count so the
    verify join reads the materialized blocks instead of re-running the
    minhash pipeline."""
    cand = _lsh_candidate_pairs(sh).localCheckpoint(eager=False)
    sa = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    jac = _jaccard_spark(F.col("sh_a"), F.col("sh_b"))
    if cand.count() <= _VERIFY_BROADCAST_MAX_PAIRS:
        withsa = sa.join(F.broadcast(cand), "a_id")
        return (sb.join(F.broadcast(withsa), "b_id")
                .select("a_id", "b_id", jac.alias("jaccard")))
    withsa = sa.join(cand.hint("shuffle_hash"), "a_id")
    return (sb.join(withsa, "b_id")
            .select("a_id", "b_id", jac.alias("jaccard")))


_NGRAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_SHINGLE2_SQL} AS sh FROM documents
  WHERE len(string_split(text, ' ')) >= 2
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       {_jaccard_sql('a.sh', 'b.sh')} AS jaccard
FROM t a, t b
WHERE a.doc_id < b.doc_id
  AND {_jaccard_sql('a.sh', 'b.sh')} >= 0.4
"""


_NGRAM_DENSE_VOCAB_MAX = 4096  # dictionary-GEMM path while the distinct-
# shingle count fits a dense binary matrix column space; above it, the
# PPJoin prefix-filtered inverted index takes over (open-vocabulary corpora)


@register("llm_dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT bigram-shingle Jaccard pairs (τ=0.4), algorithm dispatched on
    the measured vocabulary size — both paths exact, same oracle:

    • BOUNDED vocabulary (≤4096 distinct shingles — template/boilerplate
      corpora; this testdata has 931): dictionary-encode shingles to dense
      ids and run the intersection as a BINARY GEMM on the shared tile
      scaffold (:func:`_block_pair_cogroup`) — |A∩B| = (M_a · M_bᵀ) over
      0/1 doc×vocab matrices, exact in float32 (counts ≤ vocab cap ≪ 2²⁴),
      Jaccard = inter/(n_a+n_b−inter) with the same int→double division
      DuckDB folds, so membership can't flake. The plain inverted-index
      join measured 26.6 s at sf0.1 on this corpus (931 shingles × df up
      to 338 → 36.6M join rows through a shuffle); the GEMM does the same
      arithmetic in-register: measured 1.3-1.6 s warm with the
      pool_prep path (driver-densified broadcast pool, no distributed
      dictionary-encode below the fastpath threshold), identical output
      (a ~17× win). A prefix-filtered PPJoin was measured too — 68 s here,
      because with 931 shingles over 5,000 docs even rarest-first prefixes
      collide broadly (6.8M candidates); it stays as the open-vocab path
      where it is asymptotically right.

    • OPEN vocabulary (> 4096): PPJoin-style prefix-filtered inverted
      index. Sort each doc's shingles by GLOBAL frequency (rarest first),
      index only the first ⌊(1−τ)·n⌋+1 per doc — sets with J ≥ τ must
      share a prefix element — plus the length filter
      (τ·max(n_a,n_b) ≤ min(n_a,n_b)) and the positional filter (first
      common element at (p_a,p_b) bounds overlap by
      1 + min(n_a−p_a, n_b−p_b) ≥ ⌈τ/(1+τ)(n_a+n_b)⌉; later matches pass
      spuriously — harmless, survivors are only candidates), then one
      exact verify join with the corpus arrays broadcast. At 100 TB this
      is what keeps the inverted index from melting on boilerplate
      n-grams, where the hottest shingles never enter a prefix.

    The DuckDB oracle stays brute-force — an independent formulation
    cross-checking the algorithm, not just the arithmetic."""
    import numpy as np
    import pandas as pd

    tau = 0.4
    d = load_table(spark, "documents", sf_dir).where(F.size(_tokens()) >= 2)
    sh = d.select("doc_id", _tokens().alias("toks")) \
        .select("doc_id", _shingles2("toks").alias("sh")) \
        .localCheckpoint(eager=False)
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # ONE bounded job both dispatches AND ships the dictionary: the
    # dense path needs only the key LIST, so a limit(cap+1) collect is
    # the whole decision — > cap rows back means open vocabulary (the
    # collect stopped at cap+1, memory stays bounded), ≤ cap means we
    # now hold the complete dictionary. This replaced a count() job plus
    # a distributed dictionary-encode (explode → broadcast-join →
    # groupBy collect_list → eager checkpoint) that measured ~1.6 s of
    # the 2.4-3.9 s wall at sf0.1: shipping raw shingle arrays to the
    # kernel and dict-encoding there costs ~0.05 s per pool densify.
    probe = freq.select("s").limit(_NGRAM_DENSE_VOCAB_MAX + 1).collect()
    if len(probe) > _NGRAM_DENSE_VOCAB_MAX:
        return _ngram_jaccard_prefix_filter(sh, ex, freq, tau)

    # ---- dense dictionary-GEMM path ----

    # sorted driver-side dictionary: deterministic ids (output values
    # don't depend on id order, but determinism everywhere is house rule)
    sid = {s: i for i, s in enumerate(sorted(r.s for r in probe))}
    nv = len(sid)

    def dense(pdf):
        ids = pdf["vec_id"].to_numpy()
        # float32 SGEMM: intersections are 0/1 dot products bounded
        # by the vocab cap (4096) ≪ 2²⁴, so single precision is
        # EXACT here and ~1.6x faster than the float64 path.
        # Rows arrive as raw shingle STRINGS on the fastpath (encode
        # here, dict lookup) or as pre-encoded int sids on the tiled
        # path (see the dispatch below) — handle both.
        m = np.zeros((len(ids), nv), dtype=np.float32)
        for i, arr in enumerate(pdf["embedding"]):
            if len(arr) and isinstance(arr[0], str):
                m[i, [sid[s] for s in arr]] = 1.0
            else:
                m[i, np.asarray(arr, dtype=np.int64)] = 1.0
        return ids, m

    def tile_jaccard(key, lpdf, rpdf):
        bi, bj = key
        empty = pd.DataFrame(
            {"a_id": [], "b_id": [], "jaccard": []}).astype(
            {"a_id": "int64", "b_id": "int64", "jaccard": "float64"})
        if lpdf.empty:
            return empty
        il, ml = dense(lpdf)
        ir, mr = _pdf_cached(rpdf, "_lts_ngram_dense", dense)
        if len(ir) == 0:
            return empty
        inter = (ml @ mr.T).astype(np.float64)  # exact integer counts
        na = ml.sum(axis=1, dtype=np.float64)
        nb = mr.sum(axis=1, dtype=np.float64)
        union = na[:, None] + nb[None, :] - inter
        jac = inter / union                    # same int→double fold as SQL
        a = np.minimum.outer(il, ir).ravel()
        b = np.maximum.outer(il, ir).ravel()
        j = jac.ravel()
        keep = (a < b) & (j >= tau)
        if bi == bj:
            keep &= (np.subtract.outer(il, ir) < 0).ravel()
        return pd.DataFrame({"a_id": a[keep], "b_id": b[keep],
                             "jaccard": j[keep]})

    schema = "a_id bigint, b_id bigint, jaccard double"
    n_docs = sh.count()
    if n_docs <= _KNN_FASTPATH_ROWS:
        # fastpath: ship raw shingle strings straight to the kernel —
        # the pool is densified ONCE driver-side (pool_prep) and
        # broadcast as one numpy buffer, so no dictionary-encode job,
        # no collect_list shuffle, no per-worker string re-pickling
        docs = sh.select(F.col("doc_id").alias("vec_id"),
                         F.col("sh").alias("embedding"))
        return _broadcast_pair_fastpath(docs, tile_jaccard, schema,
                                        pool_prep=dense)
    # tiled path (> fastpath rows): the block-pair scaffold replicates
    # every row ~B times, so ship 4-byte int sids, not shingle strings —
    # the distributed dictionary-encode (broadcast the driver-built
    # dictionary, join, collect_list) costs one bounded shuffle and
    # shrinks the replicated payload ~10x (measured 2x on the whole op
    # at the 10x probe when strings were shipped instead)
    vocab_df = spark.createDataFrame(
        sorted(sid.items()), "s string, sidx int")
    docs = (ex.join(F.broadcast(vocab_df), "s")
            .groupBy("doc_id")
            .agg(F.collect_list("sidx").alias("sids"))
            .select(F.col("doc_id").alias("vec_id"),
                    F.col("sids").alias("embedding"))
            .localCheckpoint(eager=True))
    return _block_pair_cogroup(docs, tile_jaccard, schema)


def _ngram_jaccard_prefix_filter(sh: DataFrame, ex: DataFrame,
                                 freq: DataFrame, tau: float) -> DataFrame:
    """Open-vocabulary exact path: PPJoin prefix + length + positional
    filters over a frequency-ranked inverted index, exact-verify join with
    the corpus arrays broadcast (see llm_dedup_ngram_jaccard)."""
    from pyspark.sql import Window

    sized = sh.select("doc_id", F.size("sh").alias("n"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "s")
    prefix = (
        ex.join(freq, "s").join(sized, "doc_id")
        .withColumn("pos", F.row_number().over(w_doc))
        .where(F.col("pos") <= F.floor((1.0 - tau) * F.col("n")) + 1)
        .select("doc_id", "n", "s", "pos")
    )
    x = prefix.select(F.col("doc_id").alias("a_id"), F.col("n").alias("n_a"),
                      "s", F.col("pos").alias("p_a"))
    y = prefix.select(F.col("doc_id").alias("b_id"), F.col("n").alias("n_b"),
                      F.col("s").alias("s2"), F.col("pos").alias("p_b"))
    alpha = F.ceil((tau / (1.0 + tau)) * (x.n_a + y.n_b))
    cand = (
        x.join(y, (x.s == y.s2) & (x.a_id < y.b_id)
               # Jaccard ≥ τ forces τ·max(n_a,n_b) ≤ min(n_a,n_b)
               & (x.n_a * tau <= y.n_b) & (y.n_b * tau <= x.n_a)
               # positional overlap upper bound vs required overlap α
               & (F.lit(1) + F.least(x.n_a - x.p_a, y.n_b - y.p_b) >= alpha))
        .select("a_id", "b_id").distinct()
    )
    sa = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    jac = _jaccard_spark(F.col("sh_a"), F.col("sh_b"))
    # broadcast the CANDIDATE set into the streaming corpus, never the
    # corpus into the candidates — the same join order as the minhash
    # verify (_verified_near_dup_pairs): candidates are prefix-filter
    # survivors (bounded), the shingle table is the corpus (unbounded)
    withsa = sa.join(F.broadcast(cand), "a_id")
    return (sb.join(F.broadcast(withsa), "b_id")
            .select("a_id", "b_id", jac.alias("jaccard"))
            .where(F.col("jaccard") >= tau))


def _simhash_bits_sql() -> str:
    """16-bit parity SimHash in portable SQL (same text in both dialects)."""
    votes = []
    for b in range(16):
        bit = (f"CASE WHEN substring(md5(token), {b + 1}, 1) IN "
               f"('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END")
        votes.append(f"CASE WHEN SUM({bit}) >= 0 THEN {1 << b} ELSE 0 END")
    return " + ".join(votes)


_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), sh AS (
  SELECT doc_id, CAST({_simhash_bits_sql()} AS BIGINT) AS simhash
  FROM toks GROUP BY doc_id
)
SELECT doc_id, simhash,
       COUNT(*) OVER (PARTITION BY simhash) AS n_bucket
FROM sh
"""


@register("llm_dedup_simhash", oracle=_SIMHASH_ORACLE)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (md5-hex-parity bit votes, term-frequency
    weighted) + bucket sizes. Portable construction: each of the first 16
    md5 hex chars contributes a ±1 vote; sign of the vote sum sets the bit.
    Near-dup docs land in the same or hamming-close buckets; the bucket id
    is the blocking key at scale (single groupBy + broadcast-size output)."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    h = F.md5("token")
    votes = []
    for b in range(16):
        is_odd = F.substring(h, b + 1, 1).isin("1", "3", "5", "7", "9", "b", "d", "f")
        bit_vote = F.sum(F.when(is_odd, 1).otherwise(-1))
        votes.append(F.when(bit_vote >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
    simhash = sum(votes[1:], start=votes[0]).cast("bigint")
    per_doc = toks.groupBy("doc_id").agg(simhash.alias("simhash"))
    from pyspark.sql import Window
    return per_doc.select(
        "doc_id", "simhash",
        F.count(F.lit(1)).over(Window.partitionBy("simhash")).alias("n_bucket"))


_DOT_SQL = ("list_reduce(list_transform(range(1, 65), "
            "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)")


def _cosine_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(a=a, b=b)
    na = _DOT_SQL.format(a=a, b=a)
    nb = _DOT_SQL.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def _dot_spark(a: Column, b: Column) -> Column:
    """Sequential left fold — bit-identical to DuckDB's list_reduce."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _cosine_spark(a: Column, b: Column) -> Column:
    return _dot_spark(a, b) / (F.sqrt(_dot_spark(a, a)) * F.sqrt(_dot_spark(b, b)))


def _id_sorted_cosines(pdf):
    """(ids, cosines) of a pandas batch of (vec_id, embedding) rows: the
    ids ascending and their all-pairs cosine matrix, one float64 GEMM
    over the id-sorted rows divided by the outer product of their
    norms."""
    import numpy as np

    order = np.argsort(pdf["vec_id"].to_numpy())
    ids = pdf["vec_id"].to_numpy()[order].astype("int64")
    m = np.vstack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", m, m))
    return ids, (m @ m.T) / np.outer(norms, norms)


# cosine rounded to 6 dp on BOTH sides (and the 0.4 near-dup threshold
# applied to the ROUNDED value) — the llm_sim_knn_bruteforce discipline
# that lets the engine side run as a vectorized GEMM while DuckDB folds
# sequentially: float64 dot products over 64 float32 components agree
# across summation orders to ~1e-13, far inside 6 dp.
_EMB_DEDUP_ORACLE = f"""
SELECT a_id, b_id, label, cosine FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
         round({_cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine
  FROM embeddings a, embeddings b
  WHERE a.label = b.label AND a.vec_id < b.vec_id
) WHERE cosine >= 0.4
"""


@register("llm_dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def llm_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: label-blocked self-join, cosine >= 0.4.
    Blocking on label keeps the pair space partition-local (the same role
    LSH bands play for text); each label block computes its pair matrix
    as ONE numpy GEMM inside applyInPandas (the old
    per-pair interpreted zip_with/aggregate fold measured 6.3 s at sf0.1
    for ~200k pairs; the GEMM form ~0.6 s). Values are 6-dp rounded in
    both engines (knn-family discipline). A label block that outgrows
    one task would move onto the llm_sim_knn_bruteforce tile scaffold —
    same kernel, tiled pair space."""
    e = load_table(spark, "embeddings", sf_dir) \
        .select("vec_id", "label", "embedding")
    out_schema = ("a_id bigint, b_id bigint, label bigint, cosine double")

    def pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({
            "a_id": pd.Series([], dtype="int64"),
            "b_id": pd.Series([], dtype="int64"),
            "label": pd.Series([], dtype="int64"),
            "cosine": pd.Series([], dtype="float64")})
        if len(pdf) < 2:
            return empty
        ids, sims = _id_sorted_cosines(pdf)
        iu = np.triu_indices(len(ids), k=1)  # ids sorted -> a_id < b_id
        cos = np.round(sims[iu], 6)
        keep = cos >= 0.4
        if not keep.any():
            return empty
        return pd.DataFrame({
            "a_id": ids[iu[0][keep]], "b_id": ids[iu[1][keep]],
            "label": np.int64(pdf["label"].iloc[0]),
            "cosine": cos[keep]})

    return e.groupBy("label").applyInPandas(pairs, out_schema)


_KNN_ORACLE = f"""
SELECT a_id, b_id, round(cosine, 6) AS cosine FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
  ORDER BY cosine DESC, a_id, b_id
  LIMIT 10
)
"""


_KNN_BLOCK_ROWS = 4096  # GEMM tile height: 4096×4096 pairs × 64-d ≈ 1 Gflop,
# ~2 MB input per tile side — big enough to amortize Arrow/task overhead,
# small enough that a tile pair (~4 MB + 128 MB sims) fits executor memory


def _pdf_cached(pdf, key: str, fn):
    """Memoize ``fn(pdf)`` on the DataFrame object itself (pandas
    ``.attrs``). The broadcast pool in :func:`_broadcast_pair_fastpath` is
    deserialized ONCE per worker process and handed to every input batch's
    kernel call — without this, each of the ~32 batches re-runs the whole
    pool's vstack+normalize (or densify), which dominates the fastpath.
    Fresh per-tile Arrow batches have empty attrs, so for them this is a
    plain call.

    A TUPLE input passes straight through: it is an already-prepared
    (ids, matrix) pool from a fastpath ``pool_prep`` (prepared ONCE on
    the driver and broadcast as numpy — workers then deserialize one
    contiguous buffer instead of re-pickling the pool's Python objects,
    which measured ~0.5 s/worker on 500k shingle strings)."""
    if isinstance(pdf, tuple):
        return pdf
    try:
        cache = pdf.attrs
    except AttributeError:  # non-pandas input in tests
        return fn(pdf)
    if key not in cache:
        cache[key] = fn(pdf)
    return cache[key]


def _norm_block(pdf):
    """(ids, L2-normalized float64 matrix) from an Arrow batch, memoized
    per DataFrame object (see _pdf_cached — the broadcast pool is reused
    across batches).

    Zero-norm rows divide by 1 instead of 0 — the row stays all-zero, so
    its cosine against anything is exactly 0.0 rather than NaN. Without
    this, one zero embedding would poison the kernels' value-threshold
    pre-select (np.partition ranks NaN as largest: >= k NaNs in a tile
    would make the k-th value NaN and ``c >= kth`` drop the entire tile)."""
    return _pdf_cached(pdf, "_lts_norm", _norm_prep)


def _unit_rows(vectors):
    """A pandas Series of float arrays as a float64 matrix with L2-unit
    rows; a zero row stays zero."""
    import numpy as np

    m = np.vstack(vectors.to_numpy()).astype(np.float64)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
    return m


def _norm_prep(p):
    """The computation behind :func:`_norm_block`, exposed so fastpath
    callers can pass it as ``pool_prep`` (pool normalized once on the
    driver, broadcast as numpy)."""
    import numpy as np

    ids = p["vec_id"].to_numpy()
    if len(ids) == 0:  # empty pool: prep still runs driver-side
        return ids, np.zeros((0, 1), dtype=np.float64)
    mat = np.vstack(p["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat /= np.where(norms == 0.0, 1.0, norms)
    return ids, mat


_KNN_FASTPATH_ROWS = 8192  # ≤ 2 blocks (~4 MB of 64-d float64 payload):
# below this the table is broadcast-sized and the cogroup machinery
# (two-sided shuffle + pair explode) costs more than it parallelizes.


def _broadcast_pair_fastpath(e: DataFrame, kernel, schema: str,
                             pool_prep=None) -> DataFrame:
    """Small-table kernel dispatch: broadcast the whole vector table to
    executors and stream the same tile kernel over input batches as
    ``kernel((0, 0), batch, full)``.

    Exact for every kernel built on the (bi == bj) tile contract —
    "emit pairs with left_id < right_id" for the pair kernels (each
    unordered pair is emitted exactly once, by the batch that owns the
    smaller id) and "left rows are the queries, right rows the candidate
    pool" for the per-query kernel (each query is scored against the full
    pool exactly once, by its own batch). Keeps the measured-faster
    broadcast shape (0.54 s vs 0.78 s per-query kNN at sf0.1)
    without giving up the tiled path at scale: `_block_pair_cogroup`
    dispatches here only under `_KNN_FASTPATH_ROWS`, so the 10x scale
    probe (20k vectors) still exercises the multi-tile scaffold."""
    spark = e.sparkSession
    full = e.select("vec_id", "embedding").toPandas()  # bounded by dispatch
    # pool_prep (optional): densify/normalize the pool ONCE here and
    # broadcast the prepared (ids, matrix) tuple — workers deserialize a
    # contiguous numpy buffer instead of re-pickling the pool's Python
    # objects per worker process (see _pdf_cached's tuple pass-through)
    bc = spark.sparkContext.broadcast(
        pool_prep(full) if pool_prep is not None else full)

    def run(batches):
        pool = bc.value
        for pdf in batches:
            out = kernel((0, 0), pdf, pool)
            if len(out):
                yield out

    # batch sizing: each task pays fixed Arrow+broadcast-fetch overhead, so
    # below ~256 rows/task the fan-out costs more than it parallelizes —
    # cap task count at n/256 (still >= 8-way parallel at fastpath sizes)
    par = max(1, min(spark.sparkContext.defaultParallelism, len(full) // 256))
    return e.repartition(par).mapInPandas(run, schema=schema)


def _block_pair_cogroup(e: DataFrame, kernel, schema: str,
                        pool_prep=None) -> DataFrame:
    """Distributed all-pairs scaffold: hash vectors into ~1024-row blocks,
    enumerate the B(B+1)/2 block pairs (i <= j), replicate each block to
    the pairs it participates in via a broadcast join, and run
    ``kernel(key, left_rows, right_rows)`` per pair through cogrouped
    applyInPandas.

    Nothing reaches the driver but the row count (for block sizing) and the
    tiny pair list — no ``toPandas()`` of the data, no full-table broadcast.
    This is the 100 TB shape for exact similarity: the O(n²) pair space is
    inherent, but it is tiled across executors (replication factor B on the
    input, GEMM per tile) instead of funneled through one process. The same
    scaffold serves global-top-k, per-query-top-k, and IVF residual search.

    Below `_KNN_FASTPATH_ROWS` the table is broadcast-sized and the
    two-sided cogroup shuffle is pure overhead, so dispatch to
    :func:`_broadcast_pair_fastpath` (the one place a bounded `toPandas()`
    is the RIGHT call — the dispatch threshold is what keeps it bounded).
    """
    import math

    n = e.count()  # metadata-cheap scalar; sizes the tiling
    if n <= _KNN_FASTPATH_ROWS:
        return _broadcast_pair_fastpath(e, kernel, schema, pool_prep)
    n_blocks = max(1, math.ceil(n / _KNN_BLOCK_ROWS))
    v = e.select(
        "vec_id", "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int").alias("blk"))
    # no join needed: each row knows its tile memberships — as the LEFT side
    # of every pair (blk, j>=blk) and the RIGHT side of every (i<=blk, blk).
    # A narrow explode beats a broadcast join (zero extra shuffle inputs).
    left = v.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
        "vec_id", "embedding")
    # re-alias the right branch's payload columns: both branches descend
    # from the same `v`, and shared attribute ids across cogroup children
    # mis-prune the right side's payload under some actions (observed:
    # right batches arriving with only (bi, bj)). Alias() mints fresh ids.
    right = v.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("embedding"))
    return (left.groupBy("bi", "bj").cogroup(right.groupBy("bi", "bj"))
            .applyInPandas(kernel, schema=schema))


@register("llm_sim_knn_bruteforce", oracle=_KNN_ORACLE)
def llm_sim_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 most-similar embedding pairs, brute force — as a
    distributed block-pair GEMM (see :func:`_block_pair_cogroup`): each
    (block i, block j) tile computes its cosine matrix with numpy and emits
    only its tile-local top-k; a final TakeOrdered merges k rows per tile.
    Exact: every unordered pair lives in exactly one tile, and tile-local
    top-k uses the same (cosine desc, a_id, b_id) order as the global merge.

    Per-pair higher-order-function folds measured 36 s at sf0.1; the GEMM
    runs the same math vectorized. Cosine rounded to 6 dp in query and
    oracle: BLAS accumulation order differs from a sequential fold by ~1 ulp.
    """
    import numpy as np
    import pandas as pd

    k = 10

    def tile_topk(key, lpdf, rpdf):
        bi, bj = key
        empty = pd.DataFrame({"a_id": [], "b_id": [], "cosine": []}).astype(
            {"a_id": "int64", "b_id": "int64", "cosine": "float64"})
        if lpdf.empty:
            return empty
        il, ml = _norm_block(lpdf)
        ir, mr = _norm_block(rpdf)
        if len(ir) == 0:
            return empty
        # 12-dp rounding BEFORE tile-local selection, matching the global
        # merge's rounded order — see _tile_topk_kernel: truncating on raw
        # values lets GEMM noise evict a true tie member inside one tile.
        sims = np.round(ml @ mr.T, 12)
        # orient every pair as (smaller id, larger id); keep strict a < b
        a = np.minimum.outer(il, ir).ravel()
        b = np.maximum.outer(il, ir).ravel()
        c = sims.ravel()
        keep = a < b
        if bi == bj:
            # left == right rows: each unordered pair appears twice — keep
            # the upper triangle only (il[i] < ir[j] occurrences)
            keep &= (np.subtract.outer(il, ir) < 0).ravel()
        a, b, c = a[keep], b[keep], c[keep]
        take = min(k, len(c))
        if len(c) > 4 * k:
            # value-threshold pre-select: keep everything >= the k-th
            # largest cosine, then order only those. Exact under ties
            # (ties all survive the >= cut and the lexsort breaks them by
            # (a_id, b_id) exactly as the global merge does). Replaces a
            # full-tile lexsort — 16.7M-entry sorts per 4096x4096 tile
            # made the 10x scale probe 33x, now the GEMM dominates.
            kth = np.partition(c, len(c) - take)[len(c) - take]
            m = c >= kth
            a, b, c = a[m], b[m], c[m]
        idx = np.lexsort((b, a, -c))[:take]
        return pd.DataFrame({"a_id": a[idx], "b_id": b[idx], "cosine": c[idx]})

    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    tops = _block_pair_cogroup(
        e, tile_topk, "a_id bigint, b_id bigint, cosine double",
        pool_prep=_norm_prep)
    # order on the 12-dp-rounded cosine: tile-shape GEMM noise (~1 ulp)
    # must not outrank the (a_id, b_id) tie-break on a duplicate-heavy
    # corpus where exact ties are common (see llm_sim_knn_per_query)
    return (
        tops.orderBy(F.round(F.col("cosine"), 12).desc(), "a_id", "b_id")
        .limit(k)
        .select("a_id", "b_id", F.round("cosine", 6).alias("cosine"))
    )


def _lsh_fold_sqdist(A, B):
    """sqrt of the DIM-SEQUENTIAL squared-distance fold over two equal-shape
    float64 matrices (rows = pairs): acc_i = acc_{i-1} + (a_i-b_i)^2 in
    index order, vectorized ACROSS pairs but sequential across dims — each
    pair's accumulation order is exactly the scalar loop MLlib's
    Vectors.sqdist runs and DuckDB's list_reduce left fold replays, so the
    doubles are bit-identical to both (the llm_sim_lsh_mllib oracle's
    prototype-verified property). One shared kernel feeds BOTH verify
    branches, so branch choice can never change a value."""
    import numpy as np

    acc = np.zeros(len(A), dtype=np.float64)
    for i in range(A.shape[1]):
        d = A[:, i] - B[:, i]
        acc += d * d
    return np.sqrt(acc)


_LSH_VERIFY_FASTPATH_ROWS = 8192  # same bound (and rationale) as
# _KNN_FASTPATH_ROWS: below this the embedding table is broadcast-sized
# (≤ 4 MB of float64) and the distance verify runs as one broadcast-pool
# numpy pass over ids-only Arrow batches; above it the distributed branch
# attaches the payload by equi-join and folds per Arrow batch. Module-level
# so tests can force both branches (the closeness-rewrite discipline).


def _brp_candidate_pairs(model, e: DataFrame, n_tables: int) -> DataFrame:
    """Distinct LSH candidate pairs (a_id < b_id) from a fitted MLlib
    BucketedRandomProjectionLSH model, computed WITHOUT
    approxSimilarityJoin. The model's transform (the interop surface —
    the same JVM ddot/floor bucket assignment) supplies the hash values;
    everything after moves ONLY (vec_id, table, bucket) metadata — the
    guide-§8 proxy discipline. approxSimilarityJoin instead carries both
    full rows (vector + hash array, ~1.2 KB each) through the bucket
    join, runs keyDistance as a non-codegen UDF on every RAW bucket pair,
    shuffles the full structs through the distinct, then re-evaluates the
    UDF per surviving pair — at sf0.1 that is ~6-8M struct pairs ≈ GBs
    through one Exchange for a pair set that only needs two BIGINTs per
    row.

    Dedup is FIRST-MATCH, not distinct: each side carries its full
    per-table bucket-id row (n_tables doubles), and a raw bucket match in
    table t survives only when no table i < t also matched — exactly one
    representative per distinct pair (the standard E2LSH dedup), as a
    cheap codegen filter instead of an 8M-row Exchange+HashAggregate.
    The filter compares ≤ n_tables doubles per raw pair, so it stays in
    the join stage map-side; the candidate stream reaches the verify
    with ZERO shuffles."""
    from pyspark.ml.functions import vector_to_array

    hx = (model.transform(e)
          .select("vec_id",
                  *[vector_to_array(F.col("lsh_h").getItem(t)).getItem(0)
                    .alias(f"h{t}") for t in range(n_tables)]))
    # the embeddings scan is one small parquet split, so without this the
    # whole raw-pair join + verify would run as ONE task (guide §2.4
    # stragglers): fan the narrow probe side out across the cores first —
    # a ~100 KB shuffle that unlocks full-width parallelism downstream
    # (the build side is broadcast, so join output partitioning = probe
    # side partitioning)
    hx = hx.repartition(hx.sparkSession.sparkContext.defaultParallelism)
    ht = hx.select(
        "vec_id", *[f"h{t}" for t in range(n_tables)],
        F.posexplode(F.array(*[F.col(f"h{t}") for t in range(n_tables)]))
        .alias("tbl", "hv"))
    ha, hb = ht.alias("L"), ht.alias("R")
    # first-match: no table before this one bucketed the pair together
    fm = F.lit(True)
    for t in range(n_tables - 1, 0, -1):
        conj = F.lit(True)
        for i in range(t):
            conj = conj & (F.col(f"L.h{i}") != F.col(f"R.h{i}"))
        fm = F.when(F.col("L.tbl") == t, conj).otherwise(fm)
    return (ha.join(hb, (F.col("L.tbl") == F.col("R.tbl"))
                    & (F.col("L.hv") == F.col("R.hv"))
                    & (F.col("L.vec_id") < F.col("R.vec_id")))
            .where(fm)
            .select(F.col("L.vec_id").alias("a_id"),
                    F.col("R.vec_id").alias("b_id")))


def _brp_pairs_verified(spark: SparkSession, sf_dir: str, model,
                        e: DataFrame, n_tables: int) -> DataFrame:
    """(a_id, b_id, dist) for every distinct candidate pair within
    Euclidean distance < 1.2 — the shared verified-pair stage of both
    BRP-LSH keys. dist is the RAW sequential-fold double (callers round):
    bit-identical to MLlib's keyDistance = sqrt(Vectors.sqdist) and to
    the DuckDB oracle's list_reduce left fold.

    Two branches, one shared fold kernel (:func:`_lsh_fold_sqdist`), both
    value-exact:
    - fastpath (pool ≤ _LSH_VERIFY_FASTPATH_ROWS): the pool is
      broadcast-sized, so broadcast the (ids, float64 matrix) pair once
      (the `_broadcast_pair_fastpath` discipline) and verify ids-only
      Arrow batches against it — ~16 B/pair crosses the Python boundary
      instead of two 512 B embeddings, and the candidate stream reaches
      the verify with zero wide shuffles.
    - distributed: embeddings attached by id-equi-join (payload moves
      once, broadcast while broadcast-sized), then the SAME fold per
      Arrow batch. A codegen'd 64-term unrolled expression was tried
      here first and measured >60 s at sf0.1: Catalyst substitutes the
      192-node distance tree into the join-output filter where it
      evaluates interpreted per raw pair — the same trap
      approxSimilarityJoin's keyDistance UDF condition pays. An opaque
      Arrow kernel cannot be substituted into a join condition."""
    import numpy as np
    import pandas as pd

    cand = _brp_candidate_pairs(model, e, n_tables)
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id",
                                                         "embedding")
    n = emb.count()  # parquet metadata count: no data scan, sizes dispatch
    if n <= _LSH_VERIFY_FASTPATH_ROWS:
        pool = emb.toPandas()  # bounded by the gate: ≤ 8192 × 64 float64
        ids = pool["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        bc = spark.sparkContext.broadcast(
            (ids[order],
             np.vstack(pool["embedding"].to_numpy()).astype(
                 np.float64)[order]))

        def verify(batches):
            ids_sorted, mat = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                ai = np.searchsorted(ids_sorted, pdf["a_id"].to_numpy())
                bi = np.searchsorted(ids_sorted, pdf["b_id"].to_numpy())
                dist = _lsh_fold_sqdist(mat[ai], mat[bi])
                keep = dist < 1.2
                yield pd.DataFrame({"a_id": pdf["a_id"].to_numpy()[keep],
                                    "b_id": pdf["b_id"].to_numpy()[keep],
                                    "dist": dist[keep]})

        return cand.mapInPandas(
            verify, schema="a_id bigint, b_id bigint, dist double")

    def verify_attached(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.vstack(pdf["ea"].to_numpy()).astype(np.float64)
            B = np.vstack(pdf["eb"].to_numpy()).astype(np.float64)
            dist = _lsh_fold_sqdist(A, B)
            keep = dist < 1.2
            yield pd.DataFrame({"a_id": pdf["a_id"].to_numpy()[keep],
                                "b_id": pdf["b_id"].to_numpy()[keep],
                                "dist": dist[keep]})

    return (cand
            .join(emb.select(F.col("vec_id").alias("a_id"),
                             F.col("embedding").alias("ea")), "a_id")
            .join(emb.select(F.col("vec_id").alias("b_id"),
                             F.col("embedding").alias("eb")), "b_id")
            .mapInPandas(verify_attached,
                         schema="a_id bigint, b_id bigint, dist double"))


@register("llm_sim_lsh_approx", oracle=None)
def llm_sim_lsh_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate similarity join via MLlib BucketedRandomProjectionLSH
    (seeded → deterministic). Rows-only check by design (approx recall is
    asserted against the brute-force baseline in tests/test_llm_quality.py).
    This is the 100 TB path: bucket join instead of cross join.

    Optimization: the model (fit + transform — the MLlib interop
    surface and the exact same seeded projection) is kept; only
    approxSimilarityJoin's physical shape is replaced by
    :func:`_brp_candidate_pairs` (narrow candidate generation, first-match
    dedup, zero extra shuffles) + ONE distance verify per DISTINCT pair
    (:func:`_brp_pairs_verified`, the dim-sequential numpy fold —
    bit-identical to keyDistance). Output is unchanged: same seeded
    buckets → same candidate set, same sequential-fold distances."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    e = _lsh_input(spark, sf_dir)
    if not e.take(1):  # MLlib fit() rejects an empty dataset; empty shard -> no pairs
        return spark.createDataFrame(
            [], "a_id bigint, b_id bigint, euclidean_dist double")
    lsh = BucketedRandomProjectionLSH(
        inputCol="lsh_v", outputCol="lsh_h",
        bucketLength=2.0, numHashTables=8, seed=42)
    model = lsh.fit(e)
    return (_brp_pairs_verified(spark, sf_dir, model, e, n_tables=8)
            .select("a_id", "b_id",
                    F.round("dist", 6).alias("euclidean_dist"))
            .orderBy("a_id", "b_id"))


def _lsh_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, lsh_v: VectorUDT) — the shared MLlib input projection for
    both BRP-LSH keys. The explicit array<double> cast mirrors what
    array_to_vector performs implicitly, so both keys hash the same
    widened doubles."""
    from pyspark.ml.functions import array_to_vector

    return (load_table(spark, "embeddings", sf_dir)
            .select("vec_id",
                    array_to_vector(F.col("embedding").cast("array<double>"))
                    .alias("lsh_v")))


_IVF_NPROBE = 8  # query-side probes: the recall/cost dial — measured
# recall@3 at sf0.01: 0.39/0.48/0.56/0.74 for nprobe 2/3/4/8 (candidate
# volume nprobe*n^1.5 stays sub-quadratic). This corpus is uniform random
# vectors (max cosine ~0.51, no cluster structure), the hardest case for
# IVF — nprobe=8 is what an auto-tuner targeting recall 0.7 would pick.

_IVF_MAX_CELLS = 100_000  # training-sample bound: the Lloyd rounds run on
# the driver over ~20 rows/cell, so the sample is capped at ~2e6 × dim
# float64 (~1 GB at dim 64) — past this the √n rule would outgrow driver
# memory (√n at 100 TB is ~1e6 cells). Above the cap, cells stop growing
# and per-cell size grows instead (search cost n·nprobe·(n/1e5), still far
# sub-quadratic); the next step past that is moving Lloyd to mapInPandas +
# tree-reduce, which nothing below ~1e10 rows needs.


def _ivf_n_cells(n: int) -> int:
    """√n cells, bounded to keep centroid training driver-safe (see
    _IVF_MAX_CELLS). Pinned by tests/test_llm_quality.py."""
    import math

    return max(2, min(round(math.sqrt(n)), _IVF_MAX_CELLS))


def _ivf_train_centroids(e: DataFrame, n: int, n_cells: int):
    """Seeded k-means centroids trained on a BOUNDED deterministic sample
    (~20 rows/cell picked by hash of vec_id — sample size scales with
    n_cells, never with n, and n_cells itself is capped at _IVF_MAX_CELLS,
    so the driver-side step is bounded at any corpus size; this is the
    standard IVF training recipe: train on sample, assign distributed).
    k-means++ init + 10 Lloyd rounds, all from a fixed-seed
    rng → identical centroids every run. Returns an L2-normalized float64
    (n_cells × dim) matrix."""
    import numpy as np

    mod = max(1, n // (20 * n_cells))
    samp = (e.where(F.pmod(F.xxhash64("vec_id"), F.lit(mod)) == 0)
            .select("embedding").toPandas())
    mat = np.vstack(samp["embedding"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rng = np.random.default_rng(42)
    k = min(n_cells, len(mat))
    # k-means++ seeding on the unit sphere (euclidean == cosine ordering)
    cent = [mat[rng.integers(len(mat))]]
    for _ in range(1, k):
        d2 = np.min(
            [np.sum((mat - c) ** 2, axis=1) for c in cent], axis=0)
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        cent.append(mat[rng.choice(len(mat), p=probs)])
    cent = np.vstack(cent)
    for _ in range(10):  # Lloyd
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
        cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    return cent


@register("llm_sim_ann_ivf", oracle=None)
def llm_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a real inverted-file structure: ~√n k-means cells
    (seeded, trained on a bounded sample) + multi-probe search.

    Each vector is INDEXED under its nearest centroid only; each QUERY
    probes its nprobe nearest cells. Candidate volume is therefore
    n · nprobe · (n / n_cells) ≈ nprobe·n^1.5 — genuinely sub-quadratic, and the
    cell count grows with the data (10 fixed cells would leave the
    within-cell join O(n²/10)). Centroid matrix rides to
    executors in the task closure (√n × dim floats — broadcast-sized by
    construction). Recall vs brute force and the pair-volume bound are
    asserted in tests/test_llm_quality.py. Rows-only: the iterative
    k-means step is the part SQL can't express (SURVEY §5)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    n = e.count()
    if n == 0:  # empty shard: nothing to index, nothing to probe
        return spark.createDataFrame(
            [], "a_id bigint, b_id bigint, cosine double, rn int")
    n_cells = _ivf_n_cells(n)
    cent = _ivf_train_centroids(e, n, n_cells)

    def assign(batches):
        for pdf in batches:
            ids, mat = _norm_block(pdf)
            sims = mat @ cent.T
            # nprobe nearest cells per vector, nearest first
            top = np.argsort(-sims, axis=1)[:, :_IVF_NPROBE].astype("int32")
            yield pd.DataFrame({
                "vec_id": ids,
                "cell": top[:, 0],
                "cells": list(top),
                "nemb": list(mat),  # normalized → cosine becomes a plain dot
            })

    assigned = e.mapInPandas(
        assign,
        schema="vec_id bigint, cell int, cells array<int>, nemb array<double>",
    ).localCheckpoint(eager=False)  # feeds both index and probe sides

    index = assigned.select(
        "cell", F.col("vec_id").alias("b_id"), F.col("nemb").alias("emb_b"))
    probes = assigned.select(
        F.explode("cells").alias("cell"),
        F.col("vec_id").alias("a_id"),
        F.col("nemb").alias("emb_a"))

    # the probe-index candidate scoring was
    # probes.join(index, "cell") + an interpreted zip_with/aggregate fold
    # per candidate (~n·nprobe·(n/cells) pairs × 64 dims × 2 lambda
    # dispatches — the same interpreted-HOF cost the GEMM kernels
    # removed from the knn family), then a global top-3 window over the
    # FULL candidate stream. Now each cell's probe block × index block is
    # ONE numpy GEMM in a cogroup kernel that also pre-cuts to the 3 best
    # per (probe, cell) under exactly the final window's
    # (cosine desc, b_id) order — a pair (a,b) lives in exactly one cell
    # (b is indexed under its single nearest centroid), so the per-cell
    # cut is lossless and the global window sees ≤ 3·nprobe rows per
    # probe instead of the whole candidate stream.
    def cell_topk(key, ppdf, ipdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"a_id": [], "b_id": [], "cosine": []}).astype(
            {"a_id": "int64", "b_id": "int64", "cosine": "float64"})
        if ppdf.empty or ipdf.empty:
            return empty
        aid = ppdf["a_id"].to_numpy().astype("int64")
        am = np.vstack(ppdf["emb_a"].to_numpy())
        bid = ipdf["b_id"].to_numpy().astype("int64")
        bm = np.vstack(ipdf["emb_b"].to_numpy())
        # index side sorted by b_id so a stable argsort on -cosine yields
        # the final window's exact (cosine desc, b_id asc) order
        bo = np.argsort(bid, kind="stable")
        bid, bm = bid[bo], bm[bo]
        sims = am @ bm.T                      # normalized → plain dot
        sims[aid[:, None] == bid[None, :]] = -np.inf  # self-pairs out
        k = min(3, sims.shape[1])
        ord_ = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        rows = np.repeat(np.arange(len(aid)), k)
        cols = ord_.ravel()
        cos = sims[rows, cols]
        keep = np.isfinite(cos)
        return pd.DataFrame({"a_id": aid[rows[keep]],
                             "b_id": bid[cols[keep]],
                             "cosine": cos[keep]})

    cand = (probes.groupBy("cell").cogroup(index.groupBy("cell"))
            .applyInPandas(cell_topk,
                           schema="a_id bigint, b_id bigint, cosine double"))
    w_top = Window.partitionBy("a_id").orderBy(F.col("cosine").desc(), F.col("b_id"))
    return (
        cand
        .withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= 3)
        .select("a_id", "b_id", F.round("cosine", 6).alias("cosine"), "rn")
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


_TEXT_STATS_ORACLE = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {oracle_davg("len(string_split(text, ' '))")} AS avg_tokens
FROM documents
GROUP BY lang
"""


@register("llm_text_stats", oracle=_TEXT_STATS_ORACLE)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc count, char volume, mean token count
    (SURVEY §2.10). Single map-side-combinable groupBy."""
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        davg(F.size(_tokens()).cast("double")).alias("avg_tokens"),
    )


_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT lang, token, COUNT(*) AS tf FROM toks GROUP BY lang, token
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.lang, tf.token, tf.tf, df.df,
         tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 8) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT * FROM (
  SELECT lang, token, tf, df, tfidf,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY tfidf DESC, token) AS rn
  FROM scored
) WHERE rn <= 5
"""


@register("llm_text_tfidf_top_terms", oracle=_TFIDF_ORACLE)
def llm_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language, pure DataFrame ops (no ml.IDF —
    determinism, SURVEY §2.10). idf rounded to 8 dp before the multiply:
    ln() is the only non-portable step (1-ulp JVM/libm drift)."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", "lang", F.explode(_tokens()).alias("token"))
    tf = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar driver-side: one tiny job, broadcast literal
    idf = F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 8)
    scored = tf.join(df, "token").select(
        "lang", "token", "tf", "df", (F.col("tf") * idf).alias("tfidf"))
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("lang", "token", "tf", "df", "tfidf", "rn")
    )


_SKEW_ORACLE = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(COUNT(*) AS DOUBLE) /
       CAST(SUM(COUNT(*)) OVER (PARTITION BY lang) AS DOUBLE) AS share_of_lang,
       CAST(SUM(COUNT(*)) OVER (PARTITION BY lang) AS BIGINT) AS lang_total
FROM documents
GROUP BY lang, source
"""


@register("llm_lang_partition_skew", oracle=_SKEW_ORACLE)
def llm_lang_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language × source distribution with per-language shares — the skew
    census that drives partitioning choices (en is ~44% of the corpus, so a
    plain repartition(lang) would hot-spot one task; the fix at scale is
    salting — repartition(lang, pmod(hash(doc_id), N)) — or AQE skew-join,
    both noted in SURVEY §4)."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    lang_total = F.sum("n_docs").over(Window.partitionBy("lang"))
    return counts.select(
        "lang", "source", "n_docs",
        (F.col("n_docs").cast("double") / lang_total.cast("double")).alias("share_of_lang"),
        lang_total.cast("bigint").alias("lang_total"),
    )


@register("llm_multimodal_schema", oracle="""
SELECT doc_id,
       'text/plain' AS mime,
       CAST(n_chars AS BIGINT) AS byte_len,
       md5(text) AS payload_md5
FROM documents
WHERE n_chars > 100
""")
def llm_multimodal_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column pattern (SURVEY §2.10): opaque binary payload +
    typed metadata struct, filtered/projected on metadata only. Payload is
    utf-8-encoded text (no binary testdata exists); output is flattened to
    scalars + md5 so it hashes stably. The plan shape is the point: the
    metadata filter prunes BEFORE payload bytes move."""
    d = load_table(spark, "documents", sf_dir)
    media = d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").cast("bigint").alias("byte_len"),
            F.concat(F.lit("synthetic://docs/"), F.col("doc_id")).alias("uri"),
        ).alias("meta"),
    )
    return (
        media.where(F.col("meta.byte_len") > 100)
        .select("doc_id", F.col("meta.mime").alias("mime"),
                F.col("meta.byte_len").alias("byte_len"),
                F.md5("payload").alias("payload_md5"))
    )


_DECODE_ORACLE = """
-- replays _fake_decode exactly: n = UTF-8 BYTE length of the payload
-- (strlen in DuckDB is octet length, matching len() of the encoded
-- bytes in the pandas stub)
SELECT doc_id,
       CAST(16 + strlen(text) % 64 AS INT) AS width,
       CAST(16 + (strlen(text) // 2) % 64 AS INT) AS height,
       CAST(strlen(text) % 256 AS INT) AS checksum
FROM documents
"""


@register("llm_multimodal_decode", oracle=_DECODE_ORACLE)
def llm_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature-extract plumbing over mapInPandas.

    The real thing would decode image/audio bytes (libs not in this
    container — the decode body is a clearly-marked deterministic fake),
    but the Spark-side contract is real and tested: binary column in,
    Arrow-batched iterator, typed feature schema out, partition-parallel.
    Swap `_fake_decode` for PIL/ffmpeg and nothing else changes.

    VALUE-EXACT, not rows-only: the synthetic codec is a pure function
    of the payload byte length, so DuckDB replays it end-to-end — the
    oracle hash-pins the whole mapInPandas chain (binary encode → Arrow
    batch → stub decode → typed features), not just its row count.
    """
    import pandas as pd

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))

    def _fake_decode(payload: bytes) -> tuple[int, int, int]:
        # STUB: stands in for a real image decoder. Deterministic on bytes.
        n = len(payload)
        return (16 + n % 64, 16 + (n // 2) % 64, n % 256)

    def decode_batches(batches):
        for pdf in batches:
            feats = [_fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": [f[0] for f in feats],
                "height": [f[1] for f in feats],
                "checksum": [f[2] for f in feats],
            })

    schema = "doc_id bigint, width int, height int, checksum int"
    return d.mapInPandas(decode_batches, schema=schema)


_LANG_ID_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
), token_lang AS (
  SELECT token, lang AS tl FROM (
    SELECT token, lang, ROW_NUMBER() OVER (PARTITION BY token
                                           ORDER BY COUNT(*) DESC, lang) AS rn
    FROM toks GROUP BY token, lang
  ) WHERE rn = 1
), votes AS (
  SELECT t.doc_id, tl.tl, COUNT(*) AS votes
  FROM toks t JOIN token_lang tl ON t.token = tl.token
  GROUP BY t.doc_id, tl.tl
), pred AS (
  SELECT doc_id, tl AS predicted_lang FROM (
    SELECT doc_id, tl, ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY votes DESC, tl) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT d.doc_id, d.lang, p.predicted_lang,
       (d.lang = p.predicted_lang) AS correct
FROM documents d JOIN pred p ON d.doc_id = p.doc_id
"""


@register("llm_lang_id", oracle=_LANG_ID_ORACLE)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID: each token votes with its majority
    language (learned from the corpus itself), per-doc majority wins; ties
    broken lexicographically for determinism. The token→lang table is a
    broadcast dim at scale."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", "lang", F.explode(_tokens()).alias("token"))
    w_tok = Window.partitionBy("token").orderBy(F.col("cnt").desc(), F.col("lang"))
    token_lang = (
        toks.groupBy("token", "lang").agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w_tok))
        .where(F.col("rn") == 1)
        .select("token", F.col("lang").alias("tl"))
    )
    votes = (
        toks.select("doc_id", "token")
        .join(F.broadcast(token_lang), "token")
        .groupBy("doc_id", "tl").agg(F.count(F.lit(1)).alias("votes"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.col("votes").desc(), F.col("tl"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w_doc))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("tl").alias("predicted_lang"))
    )
    return (
        d.select("doc_id", "lang").join(pred, "doc_id")
        .select("doc_id", "lang", "predicted_lang",
                (F.col("lang") == F.col("predicted_lang")).alias("correct"))
    )


_QUALITY_ORACLE = """
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
)
SELECT doc_id, n_tokens, n_distinct,
       CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
       CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
       0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
           + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
           + 0.3 * least((CAST(n_chars - (n_tokens - 1) AS DOUBLE)
                          / CAST(n_tokens AS DOUBLE)) / 8.0, 1.0) AS quality_score
FROM base
"""


@register("llm_quality_score", oracle=_QUALITY_ORACLE)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, lexical diversity, mean token
    length composited into [0,1] (punctuation/stopword terms omitted — the
    synthetic corpus has neither; the composite shape is what matters).
    Pure per-row arithmetic — identical IEEE evaluation both engines, and
    deliberately UNROUNDED: the inputs are dyadic rationals (e.g. 64-token
    docs) whose scores land exactly on 8-dp rounding ties, where Spark
    (HALF_UP on the shortest decimal repr) and DuckDB (binary double)
    disagree — found by the sf0.1 parity sweep."""
    d = load_table(spark, "documents", sf_dir)
    toks = _tokens()
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    n_chars = F.col("n_chars").cast("bigint")
    distinct_ratio = n_distinct.cast("double") / n_tokens.cast("double")
    avg_len = (n_chars - (n_tokens - 1)).cast("double") / n_tokens.cast("double")
    score = (
        0.4 * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
        + 0.3 * distinct_ratio
        + 0.3 * F.least(avg_len / 8.0, F.lit(1.0)))
    return d.select(
        "doc_id", n_tokens.alias("n_tokens"), n_distinct.alias("n_distinct"),
        distinct_ratio.alias("distinct_ratio"), avg_len.alias("avg_token_len"),
        score.alias("quality_score"))


_TOKEN_COUNT_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT doc_id,
       COUNT(*) AS n_ws_tokens,
       CAST(SUM(CAST(ceil(CAST(len(token) AS DOUBLE) / 4.0) AS BIGINT)) AS BIGINT)
         AS n_subword_est
FROM toks
GROUP BY doc_id
"""


@register("llm_token_count", oracle=_TOKEN_COUNT_ORACLE)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (ceil(len/4) units per word — the standard chars/4 heuristic applied
    per token). Integer arithmetic end-to-end."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ws_tokens"),
        F.sum(F.ceil(F.length("token").cast("double") / 4.0).cast("bigint"))
         .cast("bigint").alias("n_subword_est"),
    )


_FINGERPRINT_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLE3_SQL}) AS s FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) AS h
  FROM sh
)
SELECT doc_id,
       MIN(h) AS fp_min,
       MAX(h) AS fp_max,
       COUNT(*) AS n_shingles
FROM hashed
GROUP BY doc_id
"""


@register("llm_fingerprint", oracle=_FINGERPRINT_ORACLE)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-lite): md5-derived
    60-bit integers over 3-gram shingles, keep min/max as the signature.
    Portable hash construction — conv(hex,16,10) == DuckDB '0x…'::BIGINT.
    One explode + one groupBy; fingerprints join exact-dup candidates at
    scale without comparing full texts."""
    d = load_table(spark, "documents", sf_dir).where(F.size(_tokens()) >= 3)
    sh = d.select("doc_id", _tokens().alias("toks")) \
        .select("doc_id", F.explode(_shingles3("toks")).alias("s"))
    h = md5_int60("s")
    return sh.groupBy("doc_id").agg(
        F.min(h).alias("fp_min"),
        F.max(h).alias("fp_max"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


_KNN_PQ_ORACLE = f"""
SELECT a_id, b_id, rn FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {_cosine_sql('a.embedding', 'b.embedding')} DESC,
                                     b.vec_id) AS rn
  FROM embeddings a, embeddings b
  WHERE a.vec_id <> b.vec_id
) WHERE rn <= 3
"""


def _per_query_topk(sims, allowed, q_ids, c_ids, k: int):
    """Row and column indices of each query row's top-k ``allowed`` cells
    of ``sims``, ordered by (query id, sim desc, candidate id) -- the
    oracles' ROW_NUMBER order. Fully vectorized: a per-row value
    threshold pre-selects candidates (ties all survive the >= cut), one
    global lexsort groups by query and orders exactly, and a run-length
    rank truncates to k. The per-query python loop it replaced (2,000
    small partition+lexsort calls per batch) cost ~0.3 s a run."""
    import numpy as np

    n_c = sims.shape[1]
    if n_c > k:
        sm = np.where(allowed, sims, -np.inf)
        kth = np.partition(sm, n_c - k, axis=1)[:, n_c - k]
        allowed = (sm >= kth[:, None]) & allowed
    qi, ci = np.nonzero(allowed)
    qa, cb, vals = q_ids[qi], c_ids[ci], sims[qi, ci]
    order = np.lexsort((cb, -vals, qa))
    qi, ci, qa = qi[order], ci[order], qa[order]
    starts = np.r_[0, np.flatnonzero(qa[1:] != qa[:-1]) + 1]
    rank = np.arange(len(qa)) - np.repeat(starts, np.diff(
        np.r_[starts, len(qa)]))
    keep = rank < k
    return qi[keep], ci[keep]


def _tile_topk_kernel(k: int):
    """Tile kernel factory for per-query top-k: each (i, j) tile emits
    tile-local top-k candidates for its left rows AND (when i ≠ j) its
    right rows. Shared by the float path (llm_sim_knn_per_query) and the
    int8-code path (llm_sim_knn_quantized) — the kernel only assumes
    "embedding" vstacks to a numeric matrix."""
    import numpy as np
    import pandas as pd

    def tile_topk(key, lpdf, rpdf):
        bi, bj = key
        cols = {"a_id": [], "b_id": [], "cosine": []}
        empty = pd.DataFrame(cols).astype(
            {"a_id": "int64", "b_id": "int64", "cosine": "float64"})
        if lpdf.empty:
            return empty
        il, ml = _norm_block(lpdf)
        ir, mr = _norm_block(rpdf)
        if len(ir) == 0:
            return empty
        # round to 12 dp HERE, before tile-local selection: the global
        # merge ranks on the 12-dp-rounded cosine, and truncating the
        # tile-local top-k on RAW values lets ~1-ulp GEMM noise evict the
        # true (smallest-id) member of an exact tie from the tile's top-k
        # before the merge ever sees it (caught on a 5x-duplicated corpus:
        # >= 4 cosine-1.0 candidates in ONE tile, noise ranked the wrong
        # three above the cut). Selection and merge must share one order.
        sims = np.round(ml @ mr.T, 12)

        def emit(q_ids, c_ids, s):
            qi, ci = _per_query_topk(
                s, q_ids[:, None] != c_ids[None, :], q_ids, c_ids, k)
            cols["a_id"].extend(q_ids[qi])
            cols["b_id"].extend(c_ids[ci])
            cols["cosine"].extend(s[qi, ci])

        emit(il, ir, sims)
        if bi != bj:
            emit(ir, il, sims.T)
        return pd.DataFrame(cols)

    return tile_topk


def _perquery_topk(e: DataFrame, k: int) -> DataFrame:
    """Exact per-query top-k over any (vec_id, embedding) table: tile
    candidates via the block-pair scaffold, then one window merges them —
    every candidate b lives in exactly one tile with a, so the union of
    tile-local top-k sets contains the true top-k."""
    from pyspark.sql import Window

    cand = _block_pair_cogroup(
        e, _tile_topk_kernel(k), "a_id bigint, b_id bigint, cosine double",
        pool_prep=_norm_prep)
    # merge on the 12-dp-ROUNDED cosine: the same pair computed in
    # different tile shapes (tiled vs broadcast dispatch, different GEMM
    # blocking) can differ by ~1 ulp, and a 10x-duplicated corpus makes
    # EXACT ties common — ranking on raw floats then lets tile noise beat
    # the b_id tie-break (caught by the 10x probe: tiled and broadcast
    # paths returned different rank-1 neighbors for replicated vectors).
    # 12 dp is far below any true cosine gap in the corpus and far above
    # GEMM noise, so true ties collapse to the deterministic id order the
    # oracle uses and true distinctions survive.
    w = Window.partitionBy("a_id").orderBy(
        F.round(F.col("cosine"), 12).desc(), F.col("b_id"))
    return (cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("a_id", "b_id", F.col("rn").cast("int").alias("rn")))


@register("llm_sim_knn_per_query", oracle=_KNN_PQ_ORACLE)
def llm_sim_knn_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query exact top-3 neighbors for EVERY vector (the retrieval-shaped
    ANN baseline, vs llm_sim_knn_bruteforce's global top pairs). Distributed
    block-pair GEMM scaffold + one exact merge window (see _perquery_topk);
    output is n×3 rows, no driver collect."""
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return _perquery_topk(e, 3)


_KNN_Q_SCALE_SQL = ("greatest(list_max(list_transform(embedding, "
                    "y -> abs(CAST(y AS DOUBLE)))), 1e-30) / 127.0")

_KNN_QUANT_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE)
                                        / ({_KNN_Q_SCALE_SQL}) + 0.5)
                                  AS DOUBLE)) AS qv
  FROM embeddings
)
SELECT a_id, b_id, rn FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {_cosine_sql('a.qv', 'b.qv')} DESC,
                                     b.vec_id) AS rn
  FROM q a, q b
  WHERE a.vec_id <> b.vec_id
) WHERE rn <= 3
"""


@register("llm_sim_knn_quantized", oracle=_KNN_QUANT_ORACLE)
def llm_sim_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query top-3 retrieval over INT8-QUANTIZED codes — the compute
    side of the llm_embed_quantize_int8 storage story: per-vector scales
    cancel inside cosine, so search runs on the 4×-smaller codes with no
    dequantization, and at 100 TB the GEMM reads a quarter of the bytes.
    Same tile scaffold and merge window as the float path (shared
    _perquery_topk) — only the map stage differs.

    Value-exact despite being "approximate": int8 dot products are sums of
    integers ≤ 127²·64 — exact in float64 regardless of summation order —
    so numpy GEMM and DuckDB's sequential list fold produce bit-identical
    cosines, and the full quantized ranking hash-matches the oracle. The
    pytest recall gate (test_llm_quality.py) measures what quantization
    actually costs vs the float-exact top-3."""
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    scale = (F.greatest(F.array_max(F.transform(xd, F.abs)), F.lit(1e-30))
             / F.lit(127.0))
    # checkpoint BEFORE the quantize lambda. CollapseProject otherwise
    # inlines the whole per-row scale expression (array_max over a nested
    # transform — O(d) interpreted work) into the per-ELEMENT lambda body,
    # making quantization O(d²) per row; and the scaffold evaluates the
    # code lineage twice (pool collect + query batches). Measured 0.62 s
    # vs 0.07 s per pass at sf0.1 for the projection alone.
    base = (e.select("vec_id", xd.alias("xd"), scale.alias("scale"))
            .localCheckpoint(eager=False))
    codes = base.select(
        "vec_id",
        F.transform("xd", lambda x: F.floor(x / F.col("scale") + F.lit(0.5)))
        .alias("embedding"))
    return _perquery_topk(codes, 3)


_PIPELINE_ORACLE = f"""
WITH quality AS (
  SELECT doc_id, lang, text,
         0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
       + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / CAST(len(string_split(text, ' ')) AS DOUBLE))
       + 0.3 * least((CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                      / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0, 1.0)
         AS q
  FROM documents
), kept_q AS (
  SELECT doc_id, lang, text FROM quality WHERE q >= 0.5
), fp AS (
  SELECT doc_id, lang, text,
         md5(array_to_string(string_split(lower(trim(text)), ' ')[1:8], ' ')) AS fp
  FROM kept_q
), exact_kept AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp
  ) WHERE rn = 1
), sh AS (
  SELECT doc_id, {_SHINGLE3_SQL} AS s FROM exact_kept
  WHERE len(string_split(text, ' ')) >= 3
), near_drop AS (
  SELECT DISTINCT b.doc_id
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND {_jaccard_sql('a.s', 'b.s')} >= 0.5
), final AS (
  SELECT * FROM exact_kept
  WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM final
GROUP BY lang
"""


@register("llm_pipeline_end_to_end", oracle=_PIPELINE_ORACLE)
def llm_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data prep chain as ONE dataflow (what the engine
    exists for at 100 TB): quality gate (composite >= 0.5) → exact dedup
    (keep-first on the prefix fingerprint) → near-dup removal (minhash-LSH
    candidates, exact-jaccard verified, drop the higher doc_id) → per-lang
    corpus stats. Each stage is the scale-path formulation from its
    standalone operator; the oracle recomputes the chain with brute-force
    pairs — algorithm-independent cross-check end to end."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    toks = _tokens()
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    n_chars = F.col("n_chars").cast("bigint")
    avg_len = (n_chars - (n_tokens - 1)).cast("double") / n_tokens.cast("double")
    q = (0.4 * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
         + 0.3 * (n_distinct.cast("double") / n_tokens.cast("double"))
         + 0.3 * F.least(avg_len / 8.0, F.lit(1.0)))
    kept_q = d.where(q >= 0.5).select("doc_id", "lang", "text")

    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    exact_kept = (kept_q.withColumn("fp", _prefix_fingerprint())
                  .withColumn("rn", F.row_number().over(w_fp))
                  .where(F.col("rn") == 1)
                  .select("doc_id", "lang", "text")
                  .localCheckpoint(eager=False))

    # near-dup removal via the SHARED minhash/LSH helper (one implementation
    # with llm_dedup_fuzzy_minhash — no drift between pipeline and operator)
    sh = exact_kept.where(F.size(_tokens()) >= 3) \
        .select("doc_id", _tokens().alias("toks")) \
        .select("doc_id", _shingles3("toks").alias("sh")) \
        .localCheckpoint(eager=False)
    near_drop = (_verified_near_dup_pairs(sh)
                 .where(F.col("jaccard") >= 0.5)
                 .select(F.col("b_id").alias("doc_id")).distinct())

    final = exact_kept.join(near_drop, "doc_id", "left_anti")
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens())).cast("bigint").alias("total_tokens"),
    )


_CLUSTER_ORACLE = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, {_SHINGLE3_SQL} AS s FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND {_jaccard_sql('a.s', 'b.s')} >= 0.5
), edges AS (
  SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs
), reach AS (
  SELECT src AS doc_id, src AS r FROM edges
  UNION
  SELECT reach.doc_id, edges.dst FROM reach JOIN edges ON reach.r = edges.src
)
SELECT doc_id, MIN(r) AS cluster_id, COUNT(DISTINCT r) AS cluster_size
FROM reach GROUP BY doc_id
"""


_CC_FASTPATH_MAX_EDGES = 65536  # driver union-find below; distributed loop above


def _union_find_clusters(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Exact connected components on a BOUNDED pair list: collect the
    (already checkpointed) candidate pairs once, path-compressed
    union-find on the driver, ship the FINISHED (doc_id, cluster_id,
    cluster_size) table back in one createDataFrame — sizes computed
    locally too, so the fastpath costs zero distributed shuffles beyond
    the pair generation itself. Union always attaches the larger root
    under the smaller, so every root — and thus every label — is its
    component's minimum id regardless of edge order: deterministic by
    construction. ~65k pairs ≈ 1 MB collected; nothing else ever reaches
    the driver."""
    from collections import Counter

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in pairs.collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    labels = [(v, find(v)) for v in parent]
    sizes = Counter(lbl for _, lbl in labels)
    return spark.createDataFrame(
        [(d, lbl, sizes[lbl]) for d, lbl in labels],
        "doc_id bigint, cluster_id bigint, cluster_size bigint")


def _pointer_jump_labels(edges: DataFrame) -> DataFrame:
    """Distributed min-label propagation with pointer jumping over a
    symmetric, localCheckpoint-ed edge list — the at-scale CC path.
    Round 0 is free: every vertex occurs as src, so min(self,
    min(neighbors)) is one propagation. Each driver sync then executes
    TWO fused propagation steps in one checkpointed plan; convergence is
    judged on the second step alone (sound: if the latest step changed
    nothing, the fixpoint was already reached)."""
    labels = (edges.groupBy("src")
              .agg(F.min("dst").alias("nbr0"))
              .select(F.col("src").alias("doc_id"),
                      F.least("src", "nbr0").alias("label")))

    def propagate(lbl: DataFrame) -> DataFrame:
        """One min-label round + pointer jumping. Name-keyed joins so two
        rounds can be fused lazily without self-join attribute ambiguity.
        Pointer jumping: also adopt label(label(v)) — labels only ever
        decrease, so the grand-label is <= the label and the fixpoint
        (component min) is unchanged, but chains collapse in O(log d)
        rounds instead of O(d) (matters exactly when the LSH hot-bucket
        cap emits long chained components)."""
        nbr = (edges
               .join(lbl.select(F.col("doc_id").alias("dst"),
                                F.col("label").alias("dst_label")), "dst")
               .groupBy("src").agg(F.min("dst_label").alias("nbr_label"))
               .withColumnRenamed("src", "doc_id"))
        ptr = lbl.select(F.col("doc_id").alias("label"),
                         F.col("label").alias("grand"))
        new = F.least("label", F.coalesce("nbr_label", "label"),
                      F.coalesce("grand", "label"))
        return (lbl.join(nbr, "doc_id", "left")
                .join(ptr, "label", "left")
                .select("doc_id", new.alias("label"),
                        (new != F.col("label")).alias("chg")))

    for _ in range(8):  # cap: 1 init + 8×2 fused rounds; log2(diameter) syncs
        new_labels = (propagate(propagate(labels).drop("chg"))
                      .localCheckpoint(eager=True))
        # convergence check reads the just-checkpointed partitions — no
        # join against the previous round's table
        changed = new_labels.where("chg").count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    return labels


@register("llm_dedup_cluster", oracle=_CLUSTER_ORACLE)
def llm_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the final dedup
    step (keep one doc per CLUSTER, not per pair; A~B~C must collapse to one
    survivor even when A~C was never directly detected).

    Iterative min-label propagation: each round every vertex takes the min
    label in its neighborhood; converges in O(component diameter) rounds
    (driver-controlled loop with a convergence check — the iterative-
    algorithm pattern SQL can't express, which is why the oracle uses a
    recursive CTE: a genuinely different formulation). Each round is one
    join + one groupBy; at 100 TB this is the standard large-graph CC
    (GraphX/Pregel shape) over broadcast-eligible candidate edges.

    Dispatch (same discipline as the kNN broadcast fastpath llm.py §sim):
    the candidate-pair graph is TINY relative to the corpus — LSH already
    reduced n docs to the near-dup survivors — so when the pair count is
    bounded (≤ _CC_FASTPATH_MAX_EDGES) an exact driver-side union-find
    solves it in one collect: deterministic, iteration-order-independent
    (roots are always component minima), and free of per-round job
    overhead. Above the cap — a 100 TB corpus whose
    pair graph itself is distributed-sized — the pointer-jumping loop
    runs: round 0 folded into the label initialization (min(self,
    neighbors) — one propagation for free), TWO fused propagation steps
    per driver sync, convergence judged on the second step alone (sound:
    if the latest step changed nothing, the fixpoint was already
    reached)."""
    # lazy checkpoint: the dispatch count below materializes the pair
    # blocks in the same job that computes them; collect/edges then read
    # the blocks without re-running the minhash pipeline
    pairs = (llm_dedup_fuzzy_minhash(spark, sf_dir).select("a_id", "b_id")
             .localCheckpoint(eager=False))
    if pairs.count() <= _CC_FASTPATH_MAX_EDGES:
        return _union_find_clusters(spark, pairs)
    # at-scale path: symmetrize + dedupe the checkpointed pairs (cheap
    # relative to the pair generation) and iterate distributed
    edges = (pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
             .unionByName(pairs.select(F.col("b_id").alias("src"),
                                       F.col("a_id").alias("dst")))
             .distinct()
             .localCheckpoint(eager=True))
    labels = _pointer_jump_labels(edges)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (labels.join(sizes, "label")
            .select("doc_id", F.col("label").alias("cluster_id"), "cluster_size"))


_FRAMES_ORACLE = """
SELECT doc_id,
       CAST(unnest(generate_series(0, CAST(n_chars % 5 AS BIGINT))) AS INT) AS frame_idx,
       CAST(n_chars % 5 + 1 AS INT) AS n_frames,
       CAST((n_chars * 31 + unnest(generate_series(0, CAST(n_chars % 5 AS BIGINT)))) % 997 AS INT)
         AS frame_checksum
FROM documents
WHERE n_chars > 200
"""


@register("llm_multimodal_frames", oracle=_FRAMES_ORACLE)
def llm_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: one input "video" payload → N frame rows
    via mapInPandas (the 1-to-many decode shape; resize/feature-extract
    hang off the same iterator). The frame decoder is a clearly-marked
    deterministic fake (no media libs in this container) computed ONLY from
    payload bytes — so the Spark-side plumbing (binary in, typed multi-row
    Arrow batches out, metadata filter pruning before bytes move) is real
    and oracle-checked."""
    import pandas as pd

    d = load_table(spark, "documents", sf_dir).where(F.col("n_chars") > 200) \
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))

    def sample_frames(batches):
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "n_frames": [], "frame_checksum": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)  # == n_chars (ascii corpus)
                n_frames = n % 5 + 1  # STUB: stands in for real frame count
                for idx in range(n_frames):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["n_frames"].append(n_frames)
                    rows["frame_checksum"].append((n * 31 + idx) % 997)
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        sample_frames,
        schema="doc_id bigint, frame_idx int, n_frames int, frame_checksum int")


# ---------------------------------------------------------------------------
# corpus curation: sampling, contamination, packing, scrubbing
# ---------------------------------------------------------------------------

# per-language sampling rates in permille — the training-mix shape: keep
# half of everything non-English, downsample the dominant language 10×
_SAMPLE_PERMILLE = {"en": 100, "de": 500, "es": 500, "fr": 500, "zh": 500}

_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source
FROM documents
WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 1000 <
      CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _SAMPLE_PERMILLE.items())}
      ELSE 0 END
"""


@register("llm_sample_stratified", oracle=_SAMPLE_ORACLE)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling by language with DETERMINISTIC membership:
    a doc is kept iff md5(doc_id) mod 1000 < rate_permille(lang). Unlike
    rand()-based sampleBy, re-runs (and retried tasks — Spark may recompute
    partitions after executor loss, re-rolling any rand()) always select the
    SAME documents, which is what a reproducible training run needs.
    Scale shape: a pure map-side filter — no shuffle, no state, trivially
    parallel at 100 TB; the rate table compiles into the expression."""
    d = load_table(spark, "documents", sf_dir)
    bucket = md5_int60(F.col("doc_id").cast("string")) % 1000
    rate = F.lit(0)
    for k, v in _SAMPLE_PERMILLE.items():
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    return d.where(bucket < rate).select("doc_id", "lang", "source")


_CONTAM_ORACLE = f"""
WITH bench AS (
  SELECT DISTINCT unnest({_SHINGLE3_SQL}) AS s FROM documents
  WHERE source = 'src0' AND len(string_split(text, ' ')) >= 3
), train AS (
  SELECT doc_id, unnest({_SHINGLE3_SQL}) AS s FROM documents
  WHERE source <> 'src0' AND len(string_split(text, ' ')) >= 3
), hits AS (
  SELECT t.doc_id, COUNT(*) AS n_shared
  FROM train t JOIN bench b USING (s)
  GROUP BY t.doc_id
), totals AS (
  SELECT doc_id, CAST(len({_SHINGLE3_SQL}) AS BIGINT) AS n_shingles
  FROM documents
  WHERE source <> 'src0' AND len(string_split(text, ' ')) >= 3
)
SELECT t.doc_id, hits.n_shared, t.n_shingles,
       CAST(hits.n_shared AS DOUBLE) / CAST(t.n_shingles AS DOUBLE) AS contamination
FROM totals t JOIN hits USING (doc_id)
WHERE CAST(hits.n_shared AS DOUBLE) / CAST(t.n_shingles AS DOUBLE) >= 0.2
"""


@register("llm_contamination_ngram", oracle=_CONTAM_ORACLE)
def llm_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: flag training documents whose
    3-gram shingles overlap a held-out benchmark set (source 'src0' stands
    in for the benchmark corpus) above 20%. This is the decontamination
    pass every pretraining pipeline runs before training.

    Scale shape: the benchmark shingle set is small by nature (benchmarks
    are thousands of docs, the corpus is billions) — build it distinct and
    BROADCAST it; the corpus-side explode then filters map-side and only
    the per-doc hit counts aggregate. The corpus is never shuffled by
    shingle."""
    d = load_table(spark, "documents", sf_dir).where(F.size(_tokens()) >= 3)
    sh = d.select("doc_id", "source", _tokens().alias("toks")) \
        .select("doc_id", "source", _shingles3("toks").alias("sh")) \
        .localCheckpoint(eager=False)  # feeds bench set + train explode + totals
    bench = (sh.where(F.col("source") == "src0")
             .select(F.explode("sh").alias("s")).distinct())
    train = sh.where(F.col("source") != "src0")
    hits = (train.select("doc_id", F.explode("sh").alias("s"))
            .join(F.broadcast(bench), "s")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shared")))
    totals = train.select("doc_id", F.size("sh").cast("bigint").alias("n_shingles"))
    contamination = F.col("n_shared").cast("double") / F.col("n_shingles").cast("double")
    return (totals.join(hits, "doc_id")
            .select("doc_id", "n_shared", "n_shingles",
                    contamination.alias("contamination"))
            .where(F.col("contamination") >= 0.2))


_PACK_BUDGET = 256  # tokens per packed training sequence

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), placed AS (
  SELECT lang, n_tokens,
         CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens)
              // {_PACK_BUDGET} AS BIGINT) AS seq_id
  FROM toks
)
SELECT lang, seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
FROM placed
GROUP BY lang, seq_id
"""


@register("llm_pack_sequences", oracle=_PACK_ORACLE)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: concatenate documents (in stable
    doc_id order, per language) into fixed-budget sequences; a document
    belongs to the sequence where its first token lands. Reports per-
    sequence document count and token fill — the packing-efficiency
    numbers a data loader needs.

    Scale shape: the running token sum partitions by language, so the
    window never funnels the corpus through one task; at 100 TB you'd
    sub-partition by (lang, shard) with per-shard budgets — same plan
    shape, one more key column."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", "lang",
                    F.size(_tokens()).cast("bigint").alias("n_tokens"))
    from pyspark.sql import Window
    w = Window.partitionBy("lang").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    placed = toks.select("lang", "n_tokens",
                         F.floor(start / _PACK_BUDGET).alias("seq_id"))
    return placed.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"))


_PII_ORACLE = """
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
              || ' ref ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+[a-z0-9]')) AS INT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+[a-z0-9]',
                                         '<EMAIL>', 'g'),
                          '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_md5
FROM aug
"""


@register("llm_pii_scrub", oracle=_PII_ORACLE)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email addresses and phone-shaped
    numbers with engine-native regexes (JVM-side, codegen — NOT a Python
    UDF; regex redaction is the textbook case where the built-in keeps
    100 TB map-side and a row-at-a-time UDF would be 10-100× slower).
    The corpus is synthetic lowercase words, so deterministic PII is
    injected from doc_id first — the oracle applies the identical
    augmentation, and the scrubbed text is compared by md5."""
    d = load_table(spark, "documents", sf_dir)
    aug = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        (F.col("doc_id") % 9000 + 1000).cast("string"),
        F.lit(" ref "), F.col("doc_id").cast("string"))
    email_re = "[a-z0-9.]+@[a-z0-9.]+[a-z0-9]"
    phone_re = "[0-9]{3}-[0-9]{4}"
    t = d.select("doc_id", aug.alias("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", email_re, "<EMAIL>"), phone_re, "<PHONE>")
    return t.select(
        "doc_id",
        F.regexp_count("text", F.lit(email_re)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(phone_re)).cast("int").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS parts FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(parts)),
                               i -> parts[i] || ' ' || parts[i + 1])) AS bg
  FROM toks WHERE len(parts) >= 2
), top_bg AS (
  SELECT doc_id, MAX(cnt) AS top_bigram_count FROM (
    SELECT doc_id, bg, COUNT(*) AS cnt FROM grams GROUP BY doc_id, bg
  ) GROUP BY doc_id
)
SELECT t.doc_id,
       round(1.0 - CAST(len(list_distinct(parts)) AS DOUBLE) / len(parts), 6)
         AS dup_word_frac,
       round(CAST(b.top_bigram_count AS DOUBLE) / (len(parts) - 1), 6)
         AS top_bigram_frac,
       CAST(len(parts) AS BIGINT) AS n_tokens
FROM toks t JOIN top_bg b USING (doc_id)
WHERE 1.0 - CAST(len(list_distinct(parts)) AS DOUBLE) / len(parts) > 0.5
   OR CAST(b.top_bigram_count AS DOUBLE) / (len(parts) - 1) > 0.1
"""


@register("llm_repetition_score", oracle=_REPETITION_ORACLE)
def llm_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher-rules signal family):
    flag documents whose duplicate-word fraction or most-frequent-bigram
    share crosses a threshold — boilerplate and degenerate generations
    score high on both; real prose doesn't. Only the MAX bigram count is
    needed, never which bigram, so frequency ties cannot make the result
    nondeterministic.

    Scale shape: dup-word fraction is pure per-row column math (map-side).
    The bigram mode aggregates (doc_id, bigram) then doc_id — both keys
    are doc-local, so partial aggregation collapses nearly everything
    map-side and the key space cannot skew (no bigram is shared across
    docs' keys). At 100 TB this is the relational form of a per-doc pass;
    a fused mapInPandas scan would save one shuffle at the cost of
    leaving codegen — measured slower at test scale."""
    d = load_table(spark, "documents", sf_dir)
    # the token arrays feed both the bigram explode and the final
    # per-doc join — pin them so the corpus tokenize pass runs once
    toks = d.select("doc_id", _tokens().alias("parts")) \
        .where(F.size("parts") >= 2) \
        .localCheckpoint(eager=False)
    grams = toks.select(
        "doc_id",
        F.explode(F.expr(
            "transform(slice(parts, 1, size(parts) - 1), "
            "(x, i) -> concat(x, ' ', parts[i + 1]))")).alias("bg"))
    top_bg = (grams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt"))
              .groupBy("doc_id").agg(F.max("cnt").alias("top_bigram_count")))
    n = F.size("parts")
    dup_frac = 1.0 - F.size(F.array_distinct("parts")).cast("double") / n
    top_frac = (F.col("top_bigram_count").cast("double") / (n - 1))
    return (
        toks.join(top_bg, "doc_id")
        .select("doc_id",
                F.round(dup_frac, 6).alias("dup_word_frac"),
                F.round(top_frac, 6).alias("top_bigram_frac"),
                n.cast("bigint").alias("n_tokens"),
                dup_frac.alias("_d"), top_frac.alias("_t"))
        .where((F.col("_d") > 0.5) | (F.col("_t") > 0.1))
        .drop("_d", "_t")
    )


# target training-mix permille per source: the benchmark-adjacent source is
# kept whole, even-numbered sources are downweighted 4x, odd kept at 3/4
_MIX_RATE_SQL = """CASE WHEN source = 'src0' THEN 1000
     WHEN CAST(substring(source, 4) AS INT) % 2 = 0 THEN 250
     ELSE 750 END"""

_DOMAIN_MIX_ORACLE = f"""
SELECT source,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE bucket < rate) AS n_kept,
       CAST(COALESCE(SUM(doc_id) FILTER (WHERE bucket < rate), 0) AS BIGINT)
         AS kept_id_sum
FROM (
  SELECT doc_id, source,
         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000 AS bucket,
         {_MIX_RATE_SQL} AS rate
  FROM documents
)
GROUP BY source
"""


@register("llm_domain_mix", oracle=_DOMAIN_MIX_ORACLE)
def llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: resample each source toward a target
    mix (the pretraining knob that turns a crawl's natural distribution
    into the training distribution). Membership is the same deterministic
    md5-permille rule as llm_sample_stratified — reproducible under task
    retry — but here the rates come from a RATE TABLE broadcast-joined on
    source rather than a compiled CASE: the form that scales to thousands
    of domains and lets the mix change without a plan rebuild. Reports
    kept/total per source so the achieved mix is auditable against the
    target."""
    d = load_table(spark, "documents", sf_dir)
    rates = (d.select("source").distinct()
             .withColumn("rate", F.when(F.col("source") == "src0", 1000)
                         .when(F.substring("source", 4, 10).cast("int") % 2 == 0,
                               250)
                         .otherwise(750)))
    bucket = md5_int60(F.col("doc_id").cast("string")) % 1000
    kept = F.col("bucket") < F.col("rate")
    return (
        d.join(F.broadcast(rates), "source")
        .select("doc_id", "source", bucket.alias("bucket"), "rate")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_total"),
             F.count(F.when(kept, 1)).alias("n_kept"),
             F.coalesce(F.sum(F.when(kept, F.col("doc_id"))), F.lit(0))
              .cast("bigint").alias("kept_id_sum"))
    )


_LENGTH_BUCKETS_ORACLE = """
SELECT lang,
       CAST(least(len(string_split(text, ' ')) // 16, 8) AS BIGINT)
         AS len_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang, CAST(least(len(string_split(text, ' ')) // 16, 8) AS BIGINT)
"""


@register("llm_length_buckets", oracle=_LENGTH_BUCKETS_ORACLE)
def llm_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per language (16-token buckets, capped):
    the curriculum/length-filter diagnostic — shows at a glance where a
    min-length cutoff lands per language and feeds length-balanced batch
    construction. One shuffle on a tiny (lang, bucket) key space; the
    token count is computed once map-side."""
    d = load_table(spark, "documents", sf_dir)
    n_tok = F.size(_tokens())
    bucket = F.least(F.floor(n_tok / 16), F.lit(8)).cast("bigint")
    return (
        d.select("lang", "n_chars", n_tok.alias("n_tok"),
                 bucket.alias("len_bucket"))
        .groupBy("lang", "len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tok").cast("bigint").alias("total_tokens"),
             F.min("n_chars").cast("bigint").alias("min_chars"),
             F.max("n_chars").cast("bigint").alias("max_chars"))
    )


_RADIUS_ORACLE = f"""
SELECT a_id, b_id, cosine FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round({_cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
)
WHERE cosine >= 0.35
"""


@register("llm_sim_radius_search", oracle=_RADIUS_ORACLE)
def llm_sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) similarity search: ALL embedding pairs with cosine ≥
    0.35 — the similarity-join primitive behind near-dup audits and
    retrieval-contamination sweeps, where top-k is the wrong contract
    because a query can have zero or fifty true neighbors.

    Exact, on the same distributed block-pair GEMM scaffold as the kNN ops
    (:func:`_block_pair_cogroup`): every unordered pair is computed in
    exactly one tile, each tile emits only its over-threshold pairs (the
    output is sparse — the whole point of a radius query), and nothing
    funnels through the driver. At 100 TB you'd put the LSH-bucketed
    variant (llm_sim_lsh_approx) in front as a candidate filter and keep
    this kernel as the exact verifier on candidates; the kernel is
    identical either way.

    Membership is decided on the 6-dp-ROUNDED cosine (same rounding
    discipline as the output column): the tile kernel keeps a half-ulp
    slack below the threshold so it never drops a pair that rounds up to
    it, and the authoritative ``round(cosine, 6) >= 0.35`` filter runs in
    the Spark plan / oracle SQL — two float pipelines (numpy BLAS fold vs
    DuckDB SQL fold) can disagree by ~1 ulp on the raw value, which would
    flake the parity gate for a pair sitting exactly on the threshold."""
    import numpy as np
    import pandas as pd

    threshold = 0.35
    kernel_cut = threshold - 5e-7  # anything below this rounds to < 0.35

    def tile_radius(key, lpdf, rpdf):
        bi, bj = key
        empty = pd.DataFrame({"a_id": [], "b_id": [], "cosine": []}).astype(
            {"a_id": "int64", "b_id": "int64", "cosine": "float64"})
        if lpdf.empty:
            return empty
        il, ml = _norm_block(lpdf)
        ir, mr = _norm_block(rpdf)
        if len(ir) == 0:
            return empty
        sims = ml @ mr.T
        a = np.minimum.outer(il, ir).ravel()
        b = np.maximum.outer(il, ir).ravel()
        c = sims.ravel()
        keep = (a < b) & (c >= kernel_cut)
        if bi == bj:
            keep &= (np.subtract.outer(il, ir) < 0).ravel()
        return pd.DataFrame({"a_id": a[keep], "b_id": b[keep],
                             "cosine": c[keep]})

    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    pairs = _block_pair_cogroup(
        e, tile_radius, "a_id bigint, b_id bigint, cosine double",
        pool_prep=_norm_prep)
    return (pairs
            .select("a_id", "b_id", F.round("cosine", 6).alias("cosine"))
            .where(F.col("cosine") >= threshold))


_LM_SCORE_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), freq AS (
  SELECT t, COUNT(*) AS c FROM tok GROUP BY t
), total AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n FROM freq
)
SELECT doc_id,
       round(AVG(ln(freq.c / total.n)), 6) AS avg_logprob,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM tok JOIN freq USING (t) CROSS JOIN total
GROUP BY doc_id
"""


@register("llm_lm_score", oracle=_LM_SCORE_ORACLE)
def llm_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (the perplexity proxy): average token
    log-probability under the corpus's own unigram distribution. Docs full
    of rare garbage score low, template boilerplate scores implausibly
    high — the cheap first-pass filter before a real LM scores the
    survivors. Rounded to 6 dp: the two engines sum the per-token logs in
    different orders (~1e-13 drift on a ≤200-token doc).

    Scale shape: the frequency table is a map-side-combinable groupBy on
    token; the per-doc score joins tokens to it and re-aggregates by
    doc_id. The vocabulary is bounded (Heaps' law) while the corpus is
    not, so freq broadcasts at any corpus size that fits a cluster."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(_tokens()).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    return (
        tok.join(F.broadcast(freq), "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.round(F.avg(F.log(F.col("c") / F.col("n"))), 6)
              .alias("avg_logprob"),
             F.count(F.lit(1)).alias("n_tokens"))
    )


_OUTLIER_ORACLE = """
WITH dims AS (
  SELECT vec_id, label,
         CAST(unnest(range(len(embedding))) AS INT) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), centroid AS (
  SELECT label, dim,
         CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS c
  FROM dims GROUP BY label, dim
)
SELECT vec_id, label,
       CAST(SUM(CAST((v - c) * (v - c) AS DECIMAL(38,6))) AS DOUBLE)
         AS sq_dist_to_centroid
FROM dims JOIN centroid USING (label, dim)
GROUP BY vec_id, label
"""


@register("llm_embedding_outliers", oracle=_OUTLIER_ORACLE)
def llm_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier score: squared distance from each vector to its
    label's centroid — the mislabeled/garbage-embedding detector that runs
    before clustering or ANN-index builds. Centroids are per-dimension
    decimal-space means (order-independent, so both engines agree
    bit-for-bit); distances sum in decimal space too and ship unrounded —
    the exact decimal → double cast is already deterministic.

    Scale shape: centroids aggregate to labels×dims rows — tiny however
    big the corpus — and broadcast back; the per-vector distance is then a
    map-side join + one groupBy on vec_id. No vector ever visits the
    driver."""
    e = load_table(spark, "embeddings", sf_dir)
    dims = e.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("dim", "v")).select(
        "vec_id", "label", F.col("dim").cast("int").alias("dim"),
        F.col("v").cast("double").alias("v"))
    centroid = dims.groupBy("label", "dim").agg(
        (F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1)))
        .alias("c"))
    diff = F.col("v") - F.col("c")
    return (
        dims.join(F.broadcast(centroid), ["label", "dim"])
        .groupBy("vec_id", "label")
        # UNROUNDED on purpose: the decimal(38,6) sum is already exact and
        # bit-identical in both engines; a second round(x, 4) on the double
        # reintroduced a .XXXX50-boundary coin flip (Spark rounds the
        # shortest decimal repr HALF_UP, DuckDB rounds the binary double) —
        # one sf0.1 row landed exactly on 1.001850 and flaked the parity
        # sweep. Casting the exact decimal to double is deterministic.
        .agg(F.sum((diff * diff).cast(DEC)).cast("double")
              .alias("sq_dist_to_centroid"))
    )


_BM25_TERMS = ("spark", "query", "fast")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_stats(d: DataFrame, terms) -> tuple[DataFrame, ...]:
    """The BM25 corpus statistics of documents ``d`` for the query
    ``terms``: tf (doc_id, t, tf), df (t, df), doclen (doc_id, dl) and
    the one-row (n_docs, avg_dl)."""
    tok = d.select("doc_id", F.explode(_tokens()).alias("t"))
    doclen = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl"))
    stats = doclen.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                       F.avg("dl").alias("avg_dl"))
    tf = (tok.where(F.col("t").isin(*terms))
          .groupBy("doc_id", "t")
          .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    df_ = tf.groupBy("t").agg(
        F.countDistinct("doc_id").cast("double").alias("df"))
    return tf, df_, doclen, stats


def _bm25_term_score() -> Column:
    """One (doc, term) BM25 score over the joined statistics: +1-smoothed
    idf times the k1/b-saturated term frequency."""
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    denom = (F.col("tf") + _BM25_K1 * (1.0 - _BM25_B
             + _BM25_B * F.col("dl") / F.col("avg_dl")))
    return idf * F.col("tf") * (_BM25_K1 + 1.0) / denom

_BM25_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), doclen AS (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avg_dl FROM doclen
), tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
  WHERE t IN {_BM25_TERMS!r} GROUP BY doc_id, t
), df AS (
  SELECT t, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY t
)
SELECT tf.doc_id,
       round(SUM(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * ({_BM25_K1} + 1.0)
                 / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * doclen.dl / stats.avg_dl))), 6) AS bm25,
       CAST(COUNT(*) AS BIGINT) AS n_matched_terms
FROM tf
JOIN df USING (t) JOIN doclen USING (doc_id) CROSS JOIN stats
GROUP BY tf.doc_id
"""


@register("llm_bm25_rank", oracle=_BM25_ORACLE)
def llm_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring of the corpus against a fixed query — the
    lexical-retrieval primitive behind hard-negative mining and
    deduplication-by-retrieval in training-data pipelines. Standard
    Robertson/Okapi form (k1=1.2, b=0.75, +1-smoothed idf). Rounded to
    6 dp: per-doc scores sum ≤3 per-term floats in engine-specific order.

    Scale shape: doc lengths and term tf are map-side-combinable groupBys;
    df and the (n_docs, avg_dl) scalars are tiny and broadcast. The corpus
    is never shuffled by term — only the ≤|query| matching rows per doc
    move. A real retrieval system would precompute doclen/df once per
    corpus snapshot; the plan shape is identical."""
    tf, df_, doclen, stats = _bm25_stats(
        load_table(spark, "documents", sf_dir), _BM25_TERMS)
    return (
        tf.join(F.broadcast(df_), "t")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(_bm25_term_score()), 6).alias("bm25"),
             F.count(F.lit(1)).alias("n_matched_terms"))
    )


_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY doc_id, t
), dl AS (
  SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM tf GROUP BY doc_id
)
SELECT tf.doc_id,
       round(-SUM((c / n) * ln(c / n)), 6) AS token_entropy,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens
FROM tf JOIN dl USING (doc_id)
GROUP BY tf.doc_id
"""


@register("llm_token_entropy", oracle=_ENTROPY_ORACLE)
def llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    information-density quality signal: near-zero for degenerate repeats,
    ~ln(n) for fully diverse text; pairs with llm_repetition_score (which
    catches local repetition, where entropy catches global skew). Rounded
    6 dp (per-doc float sums merge in engine order).

    Scale shape: (doc, token) counts then per-doc rollup — both keys
    doc-local, partial-agg collapses map-side, no cross-doc key exists to
    skew."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    tf = (d.select("doc_id", F.explode(_tokens()).alias("t"))
          .groupBy("doc_id", "t")
          .agg(F.count(F.lit(1)).cast("double").alias("c")))
    p = F.col("c") / F.col("n")
    return (
        tf.withColumn("n", F.sum("c").over(Window.partitionBy("doc_id")))
        .groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("token_entropy"),
             F.count(F.lit(1)).alias("n_distinct_tokens"))
    )


_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24  # 32-token windows, 8-token overlap

_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
)
SELECT doc_id,
       CAST(unnest(range(((n_tok - 1) // {_CHUNK_STRIDE}) + 1)) AS BIGINT)
         AS chunk_idx,
       CAST(unnest(range(((n_tok - 1) // {_CHUNK_STRIDE}) + 1))
            * {_CHUNK_STRIDE} AS BIGINT) AS chunk_start,
       CAST(least(unnest(range(((n_tok - 1) // {_CHUNK_STRIDE}) + 1))
                  * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n_tok)
            - unnest(range(((n_tok - 1) // {_CHUNK_STRIDE}) + 1))
            * {_CHUNK_STRIDE} AS BIGINT) AS chunk_len
FROM toks
"""


@register("llm_chunk_overlap", oracle=_CHUNK_ORACLE)
def llm_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (32-token windows, stride 24):
    the long-document counterpart to sequence packing — every token is
    covered, consecutive chunks share 8 tokens of context, and chunk
    boundaries are pure arithmetic on the token count (no text movement at
    planning time; the actual slice happens wherever the chunk is
    consumed). One generator expression per row, zero shuffles — at
    100 TB chunking is free until the chunks themselves are materialized."""
    d = load_table(spark, "documents", sf_dir)
    n_tok = F.size(_tokens()).cast("bigint")
    n_chunks = ((n_tok - 1) / _CHUNK_STRIDE).cast("bigint") + 1
    start = F.col("chunk_idx") * _CHUNK_STRIDE
    return (
        d.select("doc_id", n_tok.alias("n_tok"),
                 F.explode(F.sequence(F.lit(0).cast("bigint"),
                                      n_chunks - 1)).alias("chunk_idx"))
        .select("doc_id", "chunk_idx", start.alias("chunk_start"),
                (F.least(start + _CHUNK_SIZE, F.col("n_tok")) - start)
                .alias("chunk_len"))
    )


_MM_EMBED_ORACLE = """
SELECT doc_id,
       CAST(concat('0x', substring(md5(text), 1, 4)) AS INT) / 65535.0 AS d0,
       CAST(concat('0x', substring(md5(text), 5, 4)) AS INT) / 65535.0 AS d1,
       CAST(concat('0x', substring(md5(text), 9, 4)) AS INT) / 65535.0 AS d2,
       CAST(concat('0x', substring(md5(text), 13, 4)) AS INT) / 65535.0 AS d3,
       CAST(concat('0x', substring(md5(text), 17, 4)) AS INT) / 65535.0 AS d4,
       CAST(concat('0x', substring(md5(text), 21, 4)) AS INT) / 65535.0 AS d5,
       CAST(concat('0x', substring(md5(text), 25, 4)) AS INT) / 65535.0 AS d6,
       CAST(concat('0x', substring(md5(text), 29, 4)) AS INT) / 65535.0 AS d7
FROM documents WHERE n_chars > 150
"""


@register("llm_multimodal_embed", oracle=_MM_EMBED_ORACLE)
def llm_multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: binary payload → embedding vector via
    Arrow-batched mapInPandas — the shape that bridges the multimodal
    column family to the similarity-search family (the produced
    array<double> column is exactly what the kNN/LSH/IVF operators
    consume). The extractor body is a clearly-marked deterministic fake
    (md5-derived dims — no vision models in this container), which is
    precisely what makes the op fully oracle-checkable: DuckDB reproduces
    the same md5 arithmetic, so the whole Python-worker round trip
    (binary in, Arrow batches, vector out) is value-verified, not just
    row-counted. Swap the body for a real encoder and nothing else
    changes. Metadata filter prunes before payload bytes move."""
    import hashlib

    import pandas as pd

    d = load_table(spark, "documents", sf_dir).where(F.col("n_chars") > 150) \
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))

    def embed_batches(batches):
        for pdf in batches:
            embs = []
            for payload in pdf["payload"]:
                # STUB: stands in for a real image/audio encoder.
                h = hashlib.md5(bytes(payload)).hexdigest()
                embs.append([int(h[4 * i:4 * i + 4], 16) / 65535.0
                             for i in range(8)])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "embedding": embs})

    out = d.mapInPandas(embed_batches,
                        schema="doc_id bigint, embedding array<double>")
    e = F.col("embedding")
    return out.select("doc_id", *[e[i].alias(f"d{i}") for i in range(8)])


_INCR_DEDUP_ORACLE = """
WITH keyed AS (
  SELECT doc_id,
         md5(array_to_string(string_split(lower(trim(text)), ' ')[1:8], ' ')) AS fp
  FROM documents
), existing AS (
  SELECT fp FROM keyed WHERE doc_id % 2 = 0
), incoming AS (
  SELECT doc_id, fp FROM keyed WHERE doc_id % 2 = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_incoming,
       CAST(COUNT(*) FILTER (WHERE fp IN (SELECT fp FROM existing))
            AS BIGINT) AS n_already_indexed,
       CAST(COUNT(*) FILTER (WHERE fp NOT IN (SELECT fp FROM existing))
            AS BIGINT) AS n_new,
       CAST(SUM(doc_id) FILTER (WHERE fp NOT IN (SELECT fp FROM existing))
            AS BIGINT) AS new_id_sum
FROM incoming
"""


@register("llm_dedup_incremental", oracle=_INCR_DEDUP_ORACLE)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production shape full-corpus dedup ops
    don't cover: an incoming batch (today's crawl) is deduplicated against
    an existing INDEX of content fingerprints (the historical corpus),
    not against itself. Split the documents table by doc_id parity into
    existing/incoming halves sharing llm_dedup_exact's normalized-prefix
    fingerprint, LEFT ANTI join incoming against the index (the only scan
    of history is its fingerprint column — at 100 TB the index is a
    compact fp-only table, bucketed by fp so tomorrow's anti-join
    co-locates without shuffling history), and report survivors +
    checksum. One anti-join + one semi-join, both on the fingerprint key,
    corpus text never moves."""
    d = load_table(spark, "documents", sf_dir)
    keyed = d.select("doc_id", _prefix_fingerprint().alias("fp"))
    existing = keyed.where(F.col("doc_id") % 2 == 0).select("fp")
    incoming = keyed.where(F.col("doc_id") % 2 == 1)
    new = incoming.join(existing, "fp", "left_anti")
    dup = incoming.join(existing, "fp", "left_semi")
    return (
        incoming.agg(F.count(F.lit(1)).alias("n_incoming"))
        .crossJoin(dup.agg(F.count(F.lit(1)).alias("n_already_indexed")))
        .crossJoin(new.agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum("doc_id").cast("bigint").alias("new_id_sum")))
    )


_INCR_FUZZY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_SHINGLE3_SQL} AS sh FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), pairs AS (
  SELECT i.doc_id AS incoming_id, h.doc_id AS history_id,
         {_jaccard_sql('i.sh', 'h.sh')} AS jaccard
  FROM t i, t h
  WHERE i.doc_id % 2 = 1 AND h.doc_id % 2 = 0
    AND {_jaccard_sql('i.sh', 'h.sh')} >= 0.5
)
SELECT incoming_id, history_id, jaccard FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY incoming_id
                               ORDER BY jaccard DESC, history_id) AS rn
  FROM pairs
) WHERE rn = 1
"""


@register("llm_dedup_incremental_fuzzy", oracle=_INCR_FUZZY_ORACLE)
def llm_dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup — `llm_dedup_incremental`'s production
    shape lifted from exact fingerprints to MinHash-LSH: an incoming batch
    (odd doc_ids) is near-dup-checked against a historical corpus (even
    doc_ids), never against itself. Both sides share one signature
    pipeline (`_lsh_bands`); candidates come from an LSH band equi-join of
    incoming bands against history bands, then exact 3-gram Jaccard
    verifies each candidate and row_number keeps the best history match
    per incoming doc (tie-pinned on jaccard desc, history_id asc — jaccard
    is an int/int division, bit-identical across engines).

    Scale shape: a daily batch is orders of magnitude smaller than the
    history, so the INCOMING band rows broadcast and the history-side band
    and shingle tables stream map-side — history never shuffles, and at
    100 TB its signatures are a precomputed compact index (the minhash
    twin of the fp index in llm_dedup_incremental), appended to daily
    rather than recomputed. The broadcast hints are SIZE-GATED on the
    metadata row estimate: this test shape makes "incoming" half the
    corpus, so an unconditionally-broadcast incoming side grows with the
    data — the 100x scale probe caught exactly that as a driver
    notEnoughMemoryToBuildAndBroadcastTable failure. Past the gate the
    hints drop away and AQE plans ordinary shuffle joins; values are
    identical either way (hints are physical-only). The oracle
    brute-forces all cross pairs; LSH miss probability at the corpus's
    planted near-dups (jaccard >= 0.8) is ~2.8e-4 per pair (see
    llm_dedup_fuzzy_minhash)."""
    from pyspark.sql import Window

    # ≤ ~1M estimated docs ⇒ incoming ≈ ≤35k real docs ⇒ candidate
    # shingle-array broadcast stays well under driver memory
    small = estimate_rows(sf_dir, "documents") <= 1_000_000

    def maybe_broadcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    d = load_table(spark, "documents", sf_dir).where(F.size(_tokens()) >= 3)
    sh = d.select("doc_id", _tokens().alias("toks")) \
        .select("doc_id", _shingles3("toks").alias("sh")) \
        .localCheckpoint(eager=False)
    bands = _lsh_bands(sh)
    inc_b = (bands.where(F.col("doc_id") % 2 == 1)
             .select(F.col("doc_id").alias("incoming_id"), "bh"))
    hist_b = (bands.where(F.col("doc_id") % 2 == 0)
              .select(F.col("doc_id").alias("history_id"),
                      F.col("bh").alias("bh_h")))
    cand = (hist_b.join(maybe_broadcast(inc_b), hist_b.bh_h == inc_b.bh)
            .select("incoming_id", "history_id").distinct())
    si = sh.select(F.col("doc_id").alias("incoming_id"),
                   F.col("sh").alias("sh_i"))
    shh = sh.select(F.col("doc_id").alias("history_id"),
                    F.col("sh").alias("sh_h"))
    withi = si.join(maybe_broadcast(cand), "incoming_id")
    verified = (shh.join(maybe_broadcast(withi), "history_id")
                .select("incoming_id", "history_id",
                        _jaccard_spark(F.col("sh_i"), F.col("sh_h"))
                        .alias("jaccard"))
                .where(F.col("jaccard") >= 0.5))
    w = Window.partitionBy("incoming_id").orderBy(
        F.col("jaccard").desc(), "history_id")
    return (verified.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("incoming_id", "history_id", "jaccard"))


_LM_BIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)), i -> l[i])) AS t1,
         unnest(list_transform(range(1, len(l)),
                               i -> l[i] || ' ' || l[i + 1])) AS b
  FROM toks
), uni AS (
  SELECT doc_id, unnest(l) AS t FROM toks
), c1 AS (
  SELECT t, COUNT(*) AS c FROM uni GROUP BY t
), c2 AS (
  SELECT b, COUNT(*) AS c FROM bg GROUP BY b
), v AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_vocab FROM c1
)
SELECT bg.doc_id,
       round(AVG(ln((c2.c + 0.5) / (c1.c + 0.5 * v.n_vocab))), 6)
         AS avg_logprob2,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams
FROM bg JOIN c2 USING (b) JOIN c1 ON bg.t1 = c1.t CROSS JOIN v
GROUP BY bg.doc_id
"""


@register("llm_lm_score_bigram", oracle=_LM_BIGRAM_ORACLE)
def llm_lm_score_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score with add-k smoothing (k=0.5): average
    conditional log-probability ln P(w2|w1) under the corpus's own
    bigram statistics — one order sharper than llm_lm_score's unigram
    proxy (catches scrambled-but-common-token garbage the unigram model
    scores well). P = (c(w1w2)+k) / (c(w1)+k·V).

    Scale shape mirrors the unigram op: bigram and unigram count tables
    are map-side-combinable groupBys whose size is vocabulary-bounded
    (Heaps' law) while the corpus is not, so both broadcast; the per-doc
    score is one re-aggregation by doc_id. Rounded to 6 dp (cross-engine
    float sum order). Bigrams keep multiplicity (this is a language
    model, not a shingle SET — contrast _shingles2's array_distinct)."""
    d = load_table(spark, "documents", sf_dir).where(F.size(_tokens()) >= 2)
    toks = d.select("doc_id", _tokens().alias("l"))
    bigram = F.concat_ws(" ", F.element_at("l", F.col("i")),
                         F.element_at("l", F.col("i") + 1))
    bg = (toks.select("doc_id", F.explode(
            F.sequence(F.lit(1), F.size("l") - 1)).alias("i"), "l")
          .select("doc_id", F.element_at("l", F.col("i")).alias("t1"),
                  bigram.alias("b")))
    uni = toks.select("doc_id", F.explode("l").alias("t"))
    c1 = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c1"))
    c2 = bg.groupBy("b").agg(F.count(F.lit(1)).alias("c2"))
    v = c1.agg(F.count(F.lit(1)).cast("double").alias("n_vocab"))
    return (
        bg.join(F.broadcast(c2), "b")
        .join(F.broadcast(c1), F.col("t1") == F.col("t"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(F.round(F.avg(F.log((F.col("c2") + 0.5)
                                 / (F.col("c1") + 0.5 * F.col("n_vocab")))), 6)
             .alias("avg_logprob2"),
             F.count(F.lit(1)).alias("n_bigrams"))
    )


_BPE_STEPS = 8


@register("llm_tokenizer_bpe_train")
def llm_tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (rows-only: ITERATIVE by nature —
    each merge step conditions on the previous one, so no single SQL
    oracle exists; the full merge table is instead value-pinned against
    a pure-Python reference BPE in tests/test_llm_quality.py): learn the
    first 8 byte-pair merges of a tokenizer from the corpus.

    The scale-critical trick is classic BPE: train on the WORD-FREQUENCY
    table, not the corpus — one explode+groupBy reduces 100 TB of text
    to a Heaps-law-bounded (word, count) table, and every subsequent
    iteration touches only that. Per step, distributed and deterministic:
    (1) adjacent symbol pairs exploded with word weights, map-side-
    combined into pair counts; (2) argmax pair with a total tie-break
    (count desc, pair lex asc) — one tiny driver .first(), the same
    bounded per-round driver action as llm_dedup_cluster's convergence
    check; (3) leftmost-greedy non-overlapping merge applied to every
    word's symbol array via a codegen-free but vocab-sized fold
    (F.aggregate), localCheckpoint per round to truncate lineage. Output
    is the 8-row merge table (step, left, right, merged, pair_count) —
    the artifact a tokenizer ships."""
    merges, _ = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, "
                "pair_count bigint")


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Run the distributed BPE merge loop (see llm_tokenizer_bpe_train for
    the algorithm notes); returns (merges, vocab) where merges is the
    learned table and vocab the final (w, wc, s) word-frequency table with
    each word's fully-merged symbol sequence — which IS the BPE encoding
    of every word: applying merges sequentially in rank order equals the
    lowest-rank-first encode loop, because a merge's parts can only be
    produced by EARLIER merges (later ranks can never create an earlier
    rank's pair)."""
    d = load_table(spark, "documents", sf_dir)
    words = (d.select(F.explode(_tokens()).alias("w"))
             .where(F.length("w") > 0)
             .groupBy("w").agg(F.count(F.lit(1)).alias("wc")))
    cur = words.select("w", "wc", F.split("w", "").alias("s")) \
        .localCheckpoint(eager=True)
    merges = []
    for step in range(1, _BPE_STEPS + 1):
        pair_idx = F.when(
            F.size("s") > 1, F.sequence(F.lit(1), F.size("s") - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = (cur.select("wc", F.explode(pair_idx).alias("i"), "s")
                 .select("wc", F.element_at("s", F.col("i")).alias("a"),
                         F.element_at("s", F.col("i") + 1).alias("b"))
                 .groupBy("a", "b").agg(F.sum("wc").alias("c")))
        top = pairs.orderBy(F.col("c").desc(), "a", "b").first()
        if top is None:
            break
        merges.append((step, top.a, top.b, top.a + top.b, int(top.c)))
        la, lb = F.lit(top.a), F.lit(top.b)
        folded = F.aggregate(
            "s", F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (s == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.concat(la, lb)))
            ).otherwise(F.concat(acc, F.array(s))))
        cur = cur.select("w", "wc", folded.alias("s")) \
            .localCheckpoint(eager=True)
    return merges, cur


@register("llm_tokenizer_bpe_apply", oracle=None)
def llm_tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE — the apply half of llm_tokenizer_bpe_train:
    segment every document with the learned merge table and report
    per-doc symbol counts and compression (whitespace words in, BPE
    symbols out). Rows-only like training (the encoding conditions on
    the iteratively-learned merges); the per-doc output is value-pinned
    against a pure-Python reference encoder in tests/test_llm_quality.py.

    The scale trick mirrors training: encode the VOCABULARY, not the
    corpus — training's final word-frequency state already holds every
    word's merged symbol sequence, so corpus encoding is one explode +
    one broadcast-sized (Heaps-law-bounded) dictionary join + one
    groupBy; the documents' text bytes are tokenized once and never
    re-folded."""
    _, vocab = _bpe_learn(spark, sf_dir)
    dic = vocab.select("w", F.size("s").alias("n_sym"))
    d = load_table(spark, "documents", sf_dir)
    toks = (d.select("doc_id", F.explode(_tokens()).alias("w"))
            .where(F.length("w") > 0))
    return (toks.join(F.broadcast(dic), "w")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                 F.sum("n_sym").cast("bigint").alias("n_symbols"))
            .withColumn("symbols_per_word",
                        F.round(F.col("n_symbols").cast("double")
                                / F.col("n_words").cast("double"), 6)))


def _mm_dim_sql(expr: str, pos: int) -> str:
    return (f"CAST(concat('0x', substring(md5({expr}), {pos}, 8)) AS BIGINT)")


_MM_PIPELINE_ORACLE = f"""
WITH f AS (
  SELECT doc_id, source, text,
         unnest(generate_series(0, CAST(n_chars % 5 AS BIGINT))) AS fi
  FROM documents WHERE n_chars > 200
), e AS (
  SELECT doc_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_frames,
         SUM({_mm_dim_sql("text || ':' || CAST(fi AS VARCHAR)", 1)}) AS h0,
         SUM({_mm_dim_sql("text || ':' || CAST(fi AS VARCHAR)", 9)}) AS h1,
         SUM({_mm_dim_sql("text || ':' || CAST(fi AS VARCHAR)", 17)}) AS h2,
         SUM({_mm_dim_sql("text || ':' || CAST(fi AS VARCHAR)", 25)}) AS h3
  FROM f GROUP BY doc_id, source
), v AS (
  SELECT doc_id, source, n_frames,
         CAST(h0 AS DOUBLE) / n_frames AS d0,
         CAST(h1 AS DOUBLE) / n_frames AS d1,
         CAST(h2 AS DOUBLE) / n_frames AS d2,
         CAST(h3 AS DOUBLE) / n_frames AS d3
  FROM e
), p AS (
  SELECT a.doc_id AS doc_id, a.n_frames, b.doc_id AS nn_doc_id,
         (a.d0*b.d0 + a.d1*b.d1 + a.d2*b.d2 + a.d3*b.d3)
         / (sqrt(a.d0*a.d0 + a.d1*a.d1 + a.d2*a.d2 + a.d3*a.d3)
            * sqrt(b.d0*b.d0 + b.d1*b.d1 + b.d2*b.d2 + b.d3*b.d3)) AS cos_raw
  FROM v a JOIN v b ON a.source = b.source AND a.doc_id <> b.doc_id
)
SELECT doc_id, n_frames, nn_doc_id, round(cos_raw, 6) AS cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY cos_raw DESC, nn_doc_id) AS rn
  FROM p
) WHERE rn = 1
"""


@register("llm_multimodal_pipeline", oracle=_MM_PIPELINE_ORACLE)
def llm_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal END-TO-END: payload → frame sampling (1→N decode) →
    per-frame feature extraction → exact integer-space mean-pool to a
    doc vector → nearest neighbor among same-source docs. The composite
    that strings the whole multimodal family into one dataflow the way
    llm_pipeline_end_to_end does for text, and — because the stub codecs
    are md5-reproducible — the ENTIRE chain is value-exact oracled, the
    cross-engine guarantee a real-codec pipeline can't have.

    Determinism by construction: frames pool as an exact BIGINT sum of
    per-frame hash dims (no float aggregation order anywhere), the
    single int→double division happens once per doc, and every pair's
    cosine is then an identical scalar expression in both engines — so
    even the UNROUNDED top-1 ranking agrees (tie-pinned by neighbor id).
    Scale shape: one mapInPandas pass moves payload bytes exactly once,
    pooling is a map-side-combinable groupBy, and the NN search is the
    label-blocked self-join pattern (llm_dedup_embedding_cosine) —
    swap in the tiled kNN scaffold when blocks outgrow it."""
    import hashlib

    import pandas as pd

    d = (load_table(spark, "documents", sf_dir)
         .where(F.col("n_chars") > 200)
         .select("doc_id", "source", F.encode("text", "utf-8").alias("payload")))

    def frame_embed(batches):
        for pdf in batches:
            rows = {"doc_id": [], "source": [], "h0": [], "h1": [],
                    "h2": [], "h3": []}
            for doc_id, source, payload in zip(
                    pdf["doc_id"], pdf["source"], pdf["payload"]):
                # STUB codec: n_frames and per-frame dims derived only from
                # payload bytes (no media libs here), md5-reproducible
                n_frames = len(payload) % 5 + 1
                for fi in range(n_frames):
                    h = hashlib.md5(payload + b":" + str(fi).encode()).hexdigest()
                    rows["doc_id"].append(doc_id)
                    rows["source"].append(source)
                    for k in range(4):
                        rows[f"h{k}"].append(int(h[8 * k:8 * k + 8], 16))
            yield pd.DataFrame(rows)

    frames = d.mapInPandas(
        frame_embed,
        schema="doc_id bigint, source string, h0 bigint, h1 bigint, "
               "h2 bigint, h3 bigint")
    pooled = (frames.groupBy("doc_id", "source")
              .agg(F.count(F.lit(1)).alias("n_frames"),
                   *[F.sum(f"h{k}").alias(f"h{k}") for k in range(4)]))
    v = pooled.select(
        "doc_id", "source", "n_frames",
        *[(F.col(f"h{k}").cast("double") / F.col("n_frames")).alias(f"d{k}")
          for k in range(4)])
    a = v.select(F.col("doc_id").alias("a_id"), "source", "n_frames",
                 *[F.col(f"d{k}").alias(f"a{k}") for k in range(4)])
    b = v.select(F.col("doc_id").alias("nn_doc_id"),
                 F.col("source").alias("b_source"),
                 *[F.col(f"d{k}").alias(f"b{k}") for k in range(4)])
    dot = sum(F.col(f"a{k}") * F.col(f"b{k}") for k in range(4))
    na = F.sqrt(sum(F.col(f"a{k}") * F.col(f"a{k}") for k in range(4)))
    nb = F.sqrt(sum(F.col(f"b{k}") * F.col(f"b{k}") for k in range(4)))
    pairs = (a.join(b, (a.source == b.b_source)
                    & (F.col("a_id") != F.col("nn_doc_id")))
             .select(F.col("a_id").alias("doc_id"), "n_frames", "nn_doc_id",
                     (dot / (na * nb)).alias("cos_raw")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(
        F.col("cos_raw").desc(), "nn_doc_id")
    return (pairs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("doc_id", "n_frames", "nn_doc_id",
                    F.round("cos_raw", 6).alias("cosine")))


_CONTAIN_ORACLE = f"""
WITH s AS (
  SELECT doc_id, {_SHINGLE3_SQL} AS sh FROM documents
  WHERE len(string_split(text, ' ')) >= 3
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) AS containment
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE 10 * len(list_intersect(a.sh, b.sh)) >= 8 * least(len(a.sh), len(b.sh))
"""


# Duplicate-multiplicity gate for llm_dedup_containment: when the corpus
# holds >= this many copies per byte-distinct doc (total/approx-distinct
# fingerprint ratio), dispatch to the exact-dedup-first plan instead of
# running the inverted index over raw rows. Module-level — the
# closeness-gate pattern (graph._CLOSENESS_DEDUP_MIN_ROWS) — so tests can
# force BOTH branches by monkeypatching (inf => always direct, 0 =>
# always dedup-first). Both branches are VALUE-IDENTICAL by construction
# (pinned in tests/test_edge_regressions.py), so an accidental override
# can never corrupt an oracle run.
_CONTAIN_DEDUP_RATIO = 1.5


def _containment_pairs(docs: DataFrame, sf_dir: str) -> DataFrame:
    """Inverted-index containment core over an arbitrary doc slice:
    explode distinct 3-gram shingles -> equi-join on the shingle ->
    groupBy pair -> integer 10*inter >= 8*min threshold. Join volume is
    Sigma_s df(s)^2 over the SLICE — callers must hand it a corpus in the
    near-unique-df regime (raw rows when multiplicity ~1, byte-distinct
    representatives otherwise)."""
    # the checkpoint is a collapse barrier: without it Catalyst's
    # InferFiltersFromGenerate pushes a size(sh)>0 guard below the
    # projects, re-expanding the shingle transform over raw split() per
    # input row (measured ~6x on the explode; same guard as minhash)
    sh = (docs.select("doc_id", _tokens().alias("toks"))
          .select("doc_id", _shingles3("toks").alias("sh"))
          .localCheckpoint(eager=False))
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    sizes = sh.select("doc_id", F.size("sh").alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("a_id"),
                      F.col("b.doc_id").alias("b_id"))
             .agg(F.count(F.lit(1)).alias("inter")))
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("n_b"))
    if estimate_rows(sf_dir, "documents") > 1_000_000:
        # per-doc size table grows with the corpus: past broadcast scale
        # let AQE plan shuffle joins (physical-only, value-identical)
        return (inter.join(na, "a_id").join(nb, "b_id")
                .where(10 * F.col("inter") >= 8 * F.least("n_a", "n_b"))
                .select("a_id", "b_id",
                        F.col("inter").cast("bigint").alias("inter"),
                        (F.col("inter").cast("double")
                         / F.least("n_a", "n_b").cast("double"))
                        .alias("containment")))
    return (inter.join(F.broadcast(na), "a_id").join(F.broadcast(nb), "b_id")
            .where(10 * F.col("inter") >= 8 * F.least("n_a", "n_b"))
            .select("a_id", "b_id", F.col("inter").cast("bigint").alias("inter"),
                    (F.col("inter").cast("double")
                     / F.least("n_a", "n_b").cast("double"))
                    .alias("containment")))


@register("llm_dedup_containment", oracle=_CONTAIN_ORACLE)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment near-dup pairs: C(A,B) =
    |A∩B| / min(|A|,|B|) >= 0.8 over distinct 3-gram shingles. Jaccard
    (symmetric, normalized by the union) goes blind exactly when dedup
    needs it most — a short doc quoted whole inside a much longer one has
    J ≈ |A|/|B| ≈ 0 but C = 1; containment is the standard fix for
    quote/boilerplate/subset duplication in crawl corpora.

    Shape: inverted-index intersection counts (explode → equi-join on the
    shingle → groupBy pair), never all-pairs; join volume is Σ_s df(s)²,
    bounded on a deduped corpus because 3-gram shingles are near-unique
    (measured max df ≪ corpus size, unlike bigrams — the reason
    llm_dedup_ngram_jaccard needs its GEMM/prefix-filter machinery and
    this op doesn't). The threshold is applied as integer
    cross-multiplication (10·inter >= 8·min) so membership can't flake on
    a float ulp, and the reported containment is a single int/int→double
    division, bit-identical across engines. The oracle recomputes pairs
    brute-force — an independent algorithm, not just the arithmetic.

    Duplicate-multiplicity gate: Σ df² is QUADRATIC in how many copies
    of each doc the corpus holds (a 100×-duplicated corpus is ~10,000×
    the join volume — the ungated plan filled a 78 GB scratch volume and
    did not finish). The mitigation is dispatched in code: one cheap
    map-side-combinable aggregate estimates the duplicate multiplicity
    (row count / approx-distinct full-text md5 — HLL merge is
    order-independent, so the plan choice is deterministic), and past
    _CONTAIN_DEDUP_RATIO the op groups byte-identical docs first
    (llm_dedup_exact's hash-groupBy cost), runs the inverted index over
    one representative per group — restoring the near-unique-df regime
    this plan is priced for — and expands rep-level results back to the
    contract's full pair set: cross-group rep pairs fan out over member
    lists with inter/containment carried verbatim (identical text ⇒
    identical shingle set ⇒ identical values), and every intra-group pair
    qualifies with inter = |sh(rep)| and containment exactly 1.0. The
    expansion is the contract's own quadratic OUTPUT (100 copies owe
    100·99/2 pairs) reached via cheap equi-joins, not a quadratic JOIN
    SEARCH. Grouping keys on full-text md5 (house precedent:
    llm_dedup_exact — zero collisions at 2^-128 pair odds). Both branches
    are value-identical; the dedup-first branch is pinned against the
    direct branch in tests/test_edge_regressions.py; at 100× duplicates
    the gated plan measured 3.03 s."""
    d = load_table(spark, "documents", sf_dir).where(F.size(_tokens()) >= 3)
    # gate aggregate, run EVERY invocation (no memo keyed on the input
    # files: it would skip work on warm benchmark runs only). The gate is
    # one map-side-combinable scan of documents (count + HLL over the
    # full-text md5) — O(corpus) with no shuffle volume, far below this
    # key's Σ df(s)² join body.
    mult = d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct(F.md5("text")).alias("n_distinct")).first()
    dup_heavy = (mult["n_rows"]
                 >= _CONTAIN_DEDUP_RATIO * max(mult["n_distinct"], 1))
    if not dup_heavy:
        return _containment_pairs(d, sf_dir)
    # duplicate-heavy regime: dedup-first. One representative (min doc_id)
    # per byte-identical text group; inverted index over reps only. The
    # fingerprint table is checkpointed here (not before the gate): the
    # groupBy and the members join both read it, so the corpus is hashed
    # once for both consumers.
    keyed = (d.select("doc_id", F.md5("text").alias("fp"))
             .localCheckpoint(eager=False))
    groups = (keyed.groupBy("fp")
              .agg(F.min("doc_id").alias("rep_id"))
              .localCheckpoint(eager=False))
    members = (keyed.join(groups, "fp").select("rep_id", "doc_id")
               .localCheckpoint(eager=False))
    reps = d.join(groups.select(F.col("rep_id").alias("doc_id")),
                  "doc_id", "semi")
    rep_pairs = _containment_pairs(reps, sf_dir)
    # cross-group expansion: values carry over verbatim (identical text
    # => identical shingle set); least/greatest restores a_id < b_id
    ma = members.select(F.col("rep_id").alias("a_id"),
                        F.col("doc_id").alias("a_doc"))
    mb = members.select(F.col("rep_id").alias("b_id"),
                        F.col("doc_id").alias("b_doc"))
    cross = (rep_pairs.join(ma, "a_id").join(mb, "b_id")
             .select(F.least("a_doc", "b_doc").alias("a_id"),
                     F.greatest("a_doc", "b_doc").alias("b_id"),
                     "inter", "containment"))
    # intra-group expansion: byte-identical docs always qualify (C = 1.0
    # exactly, inter = the rep's distinct-shingle count; n >= 1 because
    # the >= 3-token filter ran before grouping, so no pair is dropped)
    rep_sizes = (reps.select("doc_id", _tokens().alias("toks"))
                 .select(F.col("doc_id").alias("rep_id"),
                         F.size(_shingles3("toks")).alias("n_sh")))
    intra = (members.alias("x")
             .join(members.alias("y"),
                   (F.col("x.rep_id") == F.col("y.rep_id"))
                   & (F.col("x.doc_id") < F.col("y.doc_id")))
             .select(F.col("x.rep_id").alias("rep_id"),
                     F.col("x.doc_id").alias("a_id"),
                     F.col("y.doc_id").alias("b_id"))
             .join(rep_sizes, "rep_id")
             .select("a_id", "b_id",
                     F.col("n_sh").cast("bigint").alias("inter"),
                     F.lit(1.0).alias("containment")))
    return cross.unionByName(intra)



_QUANT_ORACLE = """
WITH base AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(embedding,
                                          x -> abs(CAST(x AS DOUBLE)))),
                  1e-30) / 127.0 AS scale
  FROM embeddings
), q AS (
  SELECT vec_id, scale,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                                  AS INTEGER)) AS qv
  FROM base
)
SELECT vec_id, scale,
       CAST(list_sum(qv) AS BIGINT) AS qsum,
       CAST(list_sum(list_transform(range(1, len(qv) + 1),
                                    i -> CAST(qv[i] AS BIGINT) * i))
            AS BIGINT) AS wsum,
       CAST(list_min(qv) AS INTEGER) AS qmin,
       CAST(list_max(qv) AS INTEGER) AS qmax
FROM q
"""


@register("llm_embed_quantize_int8", oracle=_QUANT_ORACLE)
def llm_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the storage path that turns
    a 100 TB float32 vector store into 25 TB (+1 scale per vector) with
    ~0.4% max reconstruction error: scale = max|x|/127, q = round(x/scale).
    Pure per-row array arithmetic (higher-order functions, zero shuffle,
    zero UDF) — quantization is a map stage in front of the ANN family.

    Exactness discipline: rounding is floor(x/scale + 0.5), NOT round() —
    Spark rounds doubles HALF_UP, DuckDB HALF_EVEN, floor is identical in
    both; float32→double widening and double division are IEEE-exact, so
    the full quantized vector is bit-identical across engines (the oracle
    pins it via value sum, position-weighted sum, and min/max; the
    round-trip error bound err <= scale/2 is gated in pytest)."""
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    scale = (F.greatest(F.array_max(F.transform(xd, F.abs)), F.lit(1e-30))
             / F.lit(127.0))
    base = e.select("vec_id", xd.alias("xd"), scale.alias("scale"))
    qv = F.transform(
        "xd", lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"))
    q = base.select("vec_id", "scale", qv.alias("qv"))
    wsum = F.aggregate(
        F.zip_with("qv", F.sequence(F.lit(1), F.size("qv")),
                   lambda a, i: a.cast("bigint") * i),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    qsum = F.aggregate("qv", F.lit(0).cast("bigint"),
                       lambda acc, x: acc + x.cast("bigint"))
    return q.select(
        "vec_id", "scale",
        qsum.alias("qsum"), wsum.alias("wsum"),
        F.array_min("qv").alias("qmin"), F.array_max("qv").alias("qmax"))


_SPAN_W = 8  # span width in tokens: long enough that natural-language
# collisions are rare, short enough that the synthetic corpus (10-100
# tokens/doc) carries real signal (measured sf0.01: 23,665 spans, 1,015
# duplicated, 2,430 covered positions)

_SPAN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), base AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t
), s AS (
  SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_W - 2})) AS pos, toks
  FROM t WHERE len(toks) >= {_SPAN_W}
), sp AS (
  SELECT doc_id, pos,
         CAST(concat('0x', substring(md5(array_to_string(
              toks[pos:pos + {_SPAN_W - 1}], ' ')), 1, 15)) AS BIGINT) AS h
  FROM s
), dup AS (
  SELECT h FROM sp GROUP BY h HAVING COUNT(*) >= 2
), cov AS (
  SELECT DISTINCT sp.doc_id, u.p
  FROM sp JOIN dup USING (h),
       unnest(range(sp.pos, sp.pos + {_SPAN_W})) AS u(p)
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_pos FROM cov GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(a.n_dup_pos, 0) AS n_dup_pos,
       round(CAST(COALESCE(a.n_dup_pos, 0) AS DOUBLE)
             / CAST(b.n_tokens AS DOUBLE), 6) AS dup_frac
FROM base b LEFT JOIN agg a USING (doc_id)
"""


@register("llm_dedup_span_exact", oracle=_SPAN_ORACLE)
def llm_dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT repeated-span detection: every 8-token span occurring >= 2
    times anywhere in the corpus is flagged, and each doc reports the
    fraction of its token positions covered by at least one such span —
    the distributed reformulation of exact-substring training-data dedup
    (suffix-array approaches are single-node; a span/n-gram inventory is
    one explode + one groupBy and shards to any cluster size).

    Differs from the whole-doc family (minhash/simhash/jaccard score DOC
    pairs) and from llm_contamination_ngram (set-overlap vs a benchmark):
    this finds POSITIONAL duplication — boilerplate headers, quoted
    passages, templated spans — and localizes it, the signal used to cut
    repeated text out of documents rather than drop whole documents.

    Scale shape: span inventory = one narrow explode (n_tokens rows/doc,
    same volume as tokenization); duplicated-span detection is one
    map-side-combinable count groupBy on a 60-bit span hash (the hash —
    not the span text — is what shuffles); the surviving duplicated-span
    set is tiny (4% of spans here) and joins back BROADCAST, so the
    corpus-sized span table never reshuffles; coverage is an arithmetic
    sequence explode + distinct bounded by W x dup occurrences. Joining
    on the shared 60-bit md5 keeps both engines' pair sets identical even
    under (vanishingly unlikely) hash collisions."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", _tokens("text").alias("toks"))
    base = d.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    s = (d.where(F.size("toks") >= _SPAN_W)
         .select("doc_id", "toks",
                 F.explode(F.sequence(
                     F.lit(1), F.size("toks") - (_SPAN_W - 1))).alias("pos")))
    sp = s.select(
        "doc_id", "pos",
        md5_int60(F.concat_ws(
            " ", F.slice("toks", F.col("pos"), _SPAN_W))).alias("h"))
    # the inventory feeds BOTH the duplicate count and the coverage join;
    # Catalyst does not share subplans across join branches, so without
    # this the tokenize+md5 pass runs twice (measured 0.6 s of the 2.0 s
    # at sf0.1). At scale this is the materialize-reused-intermediate
    # call, same as the BPE word table.
    sp = sp.localCheckpoint(eager=True)
    dup = (sp.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
           .where(F.col("occ") >= 2).select("h"))
    cov = (sp.join(F.broadcast(dup), "h")
           .select("doc_id", F.explode(
               F.sequence(F.col("pos"), F.col("pos") + (_SPAN_W - 1)))
               .alias("p"))
           .distinct())
    agg = cov.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint")
                                    .alias("n_dup_pos"))
    return (base.join(agg, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_dup_pos", F.lit(0).cast("bigint"))
                    .alias("n_dup_pos"),
                    F.round(F.coalesce("n_dup_pos", F.lit(0)).cast("double")
                            / F.col("n_tokens").cast("double"), 6)
                    .alias("dup_frac")))


_BLOOM_M = 16384  # bloom bits: ~10 bits/key at sf0.1's 2.5k-fp history
_BLOOM_K = 4      # hash functions: FP rate (1-e^(-kn/m))^k ~ 4% at sf0.1

_BLOOM_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         md5(array_to_string(string_split(lower(trim(text)), ' ')[1:8], ' ')) AS fp
  FROM documents
), existing AS (
  SELECT DISTINCT fp FROM keyed WHERE doc_id % 2 = 0
), incoming AS (
  SELECT doc_id, fp FROM keyed WHERE doc_id % 2 = 1
), bits AS (
  SELECT DISTINCT CAST(concat('0x', substring(md5(
           concat('b', CAST(i AS VARCHAR), ':', fp)), 1, 15)) AS BIGINT)
         % {_BLOOM_M} AS pos
  FROM existing, unnest(range(0, {_BLOOM_K})) AS u(i)
), probe AS (
  SELECT doc_id, fp,
         bool_and(CAST(concat('0x', substring(md5(
             concat('b', CAST(i AS VARCHAR), ':', fp)), 1, 15)) AS BIGINT)
           % {_BLOOM_M} IN (SELECT pos FROM bits)) AS bloom_pos
  FROM incoming, unnest(range(0, {_BLOOM_K})) AS u(i)
  GROUP BY doc_id, fp
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM incoming) AS n_incoming,
  CAST(COUNT(*) FILTER (WHERE NOT bloom_pos) AS BIGINT) AS n_bloom_negative,
  CAST(COUNT(*) FILTER (WHERE bloom_pos) AS BIGINT) AS n_bloom_positive,
  CAST(COUNT(*) FILTER (WHERE bloom_pos
       AND fp IN (SELECT fp FROM existing)) AS BIGINT) AS n_dup,
  CAST(COUNT(*) FILTER (WHERE bloom_pos
       AND fp NOT IN (SELECT fp FROM existing)) AS BIGINT) AS n_false_positive,
  CAST(COUNT(*) FILTER (WHERE fp NOT IN (SELECT fp FROM existing))
       AS BIGINT) AS n_new,
  CAST(SUM(doc_id) FILTER (WHERE fp NOT IN (SELECT fp FROM existing))
       AS BIGINT) AS new_id_sum,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bloom_bits_set,
  (SELECT CAST(SUM(pos) AS BIGINT) FROM bits) AS bloom_pos_sum
FROM probe
"""


@register("llm_dedup_bloom_prefilter", oracle=_BLOOM_ORACLE)
def llm_dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-PREFILTERED incremental dedup — llm_dedup_incremental's join
    against the history index, with the join input first cut down by a
    compact membership sketch: build a bloom filter over the history
    fingerprints once, broadcast it (2 KB here; MBs at 100 TB — vs the
    multi-TB fp index), and let incoming docs whose bits aren't all set
    skip the exact join entirely. Blooms have NO false negatives, so only
    bloom-POSITIVE docs (true dups + a tunable ~4% of new docs) pay the
    shuffle; the result is byte-identical to the unfiltered path — the
    sketch buys the daily-crawl join a ~25x input reduction for free.

    Spark's built-in BloomFilter (bloom_filter_agg / the runtime-injected
    might_contain of join_runtime_bloom_filter) is JVM-internal and
    hash-private; this op instead hand-rolls the bloom from k=4 salted
    portable-md5 bit positions (the count-min construction next door,
    agg_freq_sketch_cms), which makes the SKETCH ITSELF value-exact: the
    oracle pins set-bit count, set-bit position sum, the per-doc
    bloom verdicts, and the final exact counts. All-bits-set is evaluated
    as min(hit) over a left join against the broadcast bit set —
    collision-safe when a doc's k positions coincide. The exact-confirm
    joins run ONLY over bloom positives; new_id_sum proves the
    prefiltered path returns exactly the unfiltered answer."""
    d = load_table(spark, "documents", sf_dir)
    # fingerprint the corpus ONCE: six downstream aggregate branches fan
    # out from keyed, and without this each re-scans the parquet and
    # re-hashes (METRICS.md showed a 12x input-bytes blowup). In
    # production keyed IS a stored table (the fp index), so the
    # checkpoint mirrors the real shape, not just a local fix.
    keyed = (d.select("doc_id", _prefix_fingerprint().alias("fp"))
             .localCheckpoint(eager=True))
    existing = keyed.where(F.col("doc_id") % 2 == 0).select("fp").distinct()
    incoming = keyed.where(F.col("doc_id") % 2 == 1)

    def positions(c: Column) -> list[Column]:
        return [F.pmod(md5_int60(F.concat(F.lit(f"b{i}:"), c)),
                       F.lit(_BLOOM_M)) for i in range(_BLOOM_K)]

    bits = (existing
            .select(F.explode(F.array(*positions(F.col("fp")))).alias("pos"))
            .distinct())
    probe = incoming.select(
        "doc_id", "fp",
        F.explode(F.array(*positions(F.col("fp")))).alias("pos"))
    perdoc = (probe
              .join(F.broadcast(bits.withColumn("hit", F.lit(1))),
                    "pos", "left")
              .groupBy("doc_id", "fp")
              .agg(F.min(F.coalesce("hit", F.lit(0))).alias("bp")))
    pos_docs = perdoc.where(F.col("bp") == 1)
    neg = perdoc.where(F.col("bp") == 0)
    dups = pos_docs.join(existing, "fp", "left_semi")
    false_pos = pos_docs.join(existing, "fp", "left_anti")
    out = (incoming.agg(F.count(F.lit(1)).alias("n_incoming"))
           .crossJoin(neg.agg(
               F.count(F.lit(1)).alias("n_bloom_negative"),
               F.sum("doc_id").cast("bigint").alias("_neg_sum")))
           .crossJoin(pos_docs.agg(
               F.count(F.lit(1)).alias("n_bloom_positive")))
           .crossJoin(dups.agg(F.count(F.lit(1)).alias("n_dup")))
           .crossJoin(false_pos.agg(
               F.count(F.lit(1)).alias("n_false_positive"),
               F.sum("doc_id").cast("bigint").alias("_fp_sum")))
           .crossJoin(bits.agg(
               F.count(F.lit(1)).alias("bloom_bits_set"),
               F.sum("pos").cast("bigint").alias("bloom_pos_sum"))))
    return out.select(
        "n_incoming", "n_bloom_negative", "n_bloom_positive", "n_dup",
        "n_false_positive",
        (F.col("n_bloom_negative") + F.col("n_false_positive"))
        .alias("n_new"),
        (F.coalesce("_neg_sum", F.lit(0)) + F.coalesce("_fp_sum", F.lit(0)))
        .cast("bigint").alias("new_id_sum"),
        "bloom_bits_set", "bloom_pos_sum")


_PCA_K = 8          # components kept: 64-d store -> 8-d index vectors
_PCA_FP = 10 ** 6   # input fixed-point scale; Gram sums are then EXACT
# int64 arithmetic (coords ~1e6, products ~1e12, per-partition sums ~1e16
# << 2^63) and therefore independent of partitioning and accumulation
# order — the same order-invariance trick as the int-cents money path.
# At true 100 TB row counts the partial sums outgrow int64; the same
# shape holds with decimal(38,0) partials at ~2x shuffle width.


def _pca_model(spark: SparkSession, sf_dir: str):
    """Train the PCA model distributively: per-partition integer Gram
    matrix + coordinate sums via mapInPandas (a tree-reduce of 64x64
    partials — bytes shuffled scale with partitions, not rows), exact
    bigint merge in one groupBy, then a driver-side 64x64 eigh on the
    assembled covariance (4,161 scalars — bounded regardless of corpus
    size). Eigenvector sign is pinned (largest-|coeff| entry positive,
    first index on ties) so the model is reproducible run to run.
    Returns (n, mu, eigvals, components) as numpy arrays."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, "embeddings", sf_dir).select("embedding")
    dim = 64

    def partials(it):
        S = np.zeros((dim, dim), dtype=np.int64)
        s1 = np.zeros(dim, dtype=np.int64)
        cnt = 0
        for pdf in it:
            if not len(pdf):
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            Xq = np.rint(X * _PCA_FP).astype(np.int64)
            S += Xq.T @ Xq
            s1 += Xq.sum(axis=0)
            cnt += len(pdf)
        i, j = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        yield pd.DataFrame({
            "i": np.r_[i.ravel(), np.arange(dim), [-1]],
            "j": np.r_[j.ravel(), np.full(dim, -1), [-1]],
            "s": np.r_[S.ravel(), s1, [cnt]]})

    rows = (e.mapInPandas(partials, schema="i int, j int, s long")
            .groupBy("i", "j").agg(F.sum("s").alias("s")).collect())
    S = np.zeros((dim, dim))
    s1 = np.zeros(dim)
    n = 0
    for r in rows:
        if r.i == -1:
            n = r.s
        elif r.j == -1:
            s1[r.i] = r.s
        else:
            S[r.i, r.j] = r.s
    mu_q = s1 / n
    cov = (S / n - np.outer(mu_q, mu_q)) / (_PCA_FP ** 2)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:_PCA_K]
    eigvals, V = eigvals[order], eigvecs[:, order]
    for j in range(V.shape[1]):           # sign pinning
        if V[np.argmax(np.abs(V[:, j])), j] < 0:
            V[:, j] = -V[:, j]
    return n, mu_q / _PCA_FP, eigvals, V


@register("llm_embedding_pca_project", oracle=None)
def llm_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dimensionality reduction for the vector store: project 64-d
    embeddings onto the top-8 principal components — the standard
    pre-ANN compression (an 8-d index vector is 1/8 the scan bytes; IVF
    cells or LSH buckets built on the projection keep most of the
    variance). Rows-only by design (an eigendecomposition is not
    SQL-expressible); pytest gates pin orthonormality, variance capture
    vs the eigenvalues, and run-to-run determinism instead.

    Scale split: the covariance is learned by mapInPandas partial Gram
    matrices (int64 fixed-point — bit-identical under any partitioning)
    merged in one 4k-row groupBy; only the 64x64 matrix ever reaches the
    driver, the corpus does not. The projection itself runs JVM-side as
    sequential higher-order-function folds over literal component
    arrays: fixed accumulation order, so projected values are
    bit-deterministic (GEMM batch-shape noise can't appear)."""
    import numpy as np

    _, mu, _, V = _pca_model(spark, sf_dir)
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "label", "embedding")
    mu_arr = F.array(*[F.lit(float(m)) for m in mu])
    centered = F.zip_with(
        F.transform("embedding", lambda x: x.cast("double")), mu_arr,
        lambda x, m: x - m)
    d = e.select("vec_id", "label", centered.alias("xc"))
    proj = [
        F.round(F.aggregate(
            F.zip_with("xc", F.array(*[F.lit(float(v)) for v in V[:, j]]),
                       lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x), 6).alias(f"p{j}")
        for j in range(_PCA_K)]
    return d.select("vec_id", "label", *proj)


_FILTER_STACK_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, n_chars FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(list_max(list_transform(list_distinct(toks),
              d -> len(list_filter(toks, t -> t = d)))) AS BIGINT) AS top_cnt
  FROM t
), r AS (
  SELECT doc_id, n_tokens, n_distinct, top_cnt,
         (n_tokens >= 30 AND n_tokens <= 5000) AS r_word_count,
         (n_chars - (n_tokens - 1) >= 3 * n_tokens
          AND n_chars - (n_tokens - 1) <= 10 * n_tokens) AS r_mean_word_len,
         (5 * (n_tokens - n_distinct) <= 3 * n_tokens) AS r_dup_word_frac,
         (8 * top_cnt <= n_tokens) AS r_top_word_share
  FROM m
)
SELECT doc_id, n_tokens, r_word_count, r_mean_word_len, r_dup_word_frac,
       r_top_word_share,
       (r_word_count AND r_mean_word_len AND r_dup_word_frac
        AND r_top_word_share) AS keep,
       concat_ws(',',
         CASE WHEN NOT r_word_count THEN 'word_count' END,
         CASE WHEN NOT r_mean_word_len THEN 'mean_word_len' END,
         CASE WHEN NOT r_dup_word_frac THEN 'dup_word_frac' END,
         CASE WHEN NOT r_top_word_share THEN 'top_word_share' END)
         AS reject_reasons
FROM r
"""


@register("llm_quality_filter_stack", oracle=_FILTER_STACK_ORACLE)
def llm_quality_filter_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-STACK quality filter (the Gopher/C4 operational shape): each
    doc is judged by named, independently-reportable rules — word-count
    band, mean-word-length band, duplicate-word fraction, top-word share
    — and carries a keep verdict plus the comma-joined list of FAILED
    rules. The reasons column is the production point: corpus curation
    tunes thresholds from per-rule rejection rates, which a single fused
    score (llm_quality_score) cannot give.

    Every rule is INTEGER cross-multiplied arithmetic (e.g. duplicate
    fraction <= 0.6 as 5*(n - n_distinct) <= 3*n), so no rule can flake
    on a float ulp between engines. Doc-local top-word count runs as a
    per-row higher-order fold (distinct x occurrences, ~2k codegen ops on
    this corpus) — zero shuffles in the whole op; at 100 TB it is a pure
    map stage in front of the dedup pipeline."""
    d = load_table(spark, "documents", sf_dir)
    toks = _tokens()
    m = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.col("n_chars").cast("bigint").alias("nc"),
        F.array_max(F.transform(
            F.array_distinct(toks),
            lambda dd: F.size(F.filter(toks, lambda t: t == dd))))
        .cast("bigint").alias("top_cnt"))
    nt, nd = F.col("n_tokens"), F.col("n_distinct")
    chars_in_words = F.col("nc") - (nt - 1)
    rules = m.select(
        "doc_id", "n_tokens",
        ((nt >= 30) & (nt <= 5000)).alias("r_word_count"),
        ((chars_in_words >= 3 * nt)
         & (chars_in_words <= 10 * nt)).alias("r_mean_word_len"),
        (5 * (nt - nd) <= 3 * nt).alias("r_dup_word_frac"),
        (8 * F.col("top_cnt") <= nt).alias("r_top_word_share"))
    keep = (F.col("r_word_count") & F.col("r_mean_word_len")
            & F.col("r_dup_word_frac") & F.col("r_top_word_share"))
    reasons = F.concat_ws(
        ",",
        F.when(~F.col("r_word_count"), F.lit("word_count")),
        F.when(~F.col("r_mean_word_len"), F.lit("mean_word_len")),
        F.when(~F.col("r_dup_word_frac"), F.lit("dup_word_frac")),
        F.when(~F.col("r_top_word_share"), F.lit("top_word_share")))
    return rules.select(
        "doc_id", "n_tokens", "r_word_count", "r_mean_word_len",
        "r_dup_word_frac", "r_top_word_share",
        keep.alias("keep"), reasons.alias("reject_reasons"))


_LANG_CONF_ORACLE = f"""
WITH scored AS ({_LANG_ID_ORACLE}),
cm AS (
  SELECT lang AS true_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM scored GROUP BY lang, predicted_lang
)
SELECT true_lang, predicted_lang, n,
       round(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY true_lang), 6) AS recall_share,
       round(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY predicted_lang), 6) AS precision_share
FROM cm
"""


@register("llm_lang_id_confusion", oracle=_LANG_CONF_ORACLE)
def llm_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix over the lang-id heuristic —
    the QA artifact every routing classifier ships with: per (true,
    predicted) cell counts plus each cell's share of its true-class row
    (recall decomposition) and predicted-class column (precision
    decomposition). Off-diagonal hot spots are the curation signal: which
    language pairs the n-gram heuristic confuses, hence where routed
    training data is contaminated. (It earns its keep on THIS corpus: at
    sf0.1 the matrix shows the heuristic collapsing to all-'en' — the
    languages share one synthetic vocabulary there, so every token's
    majority lang is the plurality class; at sf0.01 the same heuristic is
    diagonal-perfect. A single accuracy number would hide that cliff.)

    Shape: reuses llm_lang_id's prediction dataflow (one shared
    definition — the metric can't drift from the model), then one tiny
    groupBy to |langs|² cells and two window passes over that bounded
    matrix. All heavy lifting stays in the prediction pipeline; the
    evaluation adds no corpus-scale shuffle."""
    pred = llm_lang_id(spark, sf_dir)
    cm = (pred.groupBy(F.col("lang").alias("true_lang"), "predicted_lang")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    from pyspark.sql import Window
    w_t = Window.partitionBy("true_lang")
    w_p = Window.partitionBy("predicted_lang")
    return cm.select(
        "true_lang", "predicted_lang", "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w_t), 6)
        .alias("recall_share"),
        F.round(F.col("n").cast("double") / F.sum("n").over(w_p), 6)
        .alias("precision_share"))


_SPLIT_ORACLE = """
WITH keyed AS (
  SELECT doc_id, n_chars,
         md5(array_to_string(string_split(lower(trim(text)), ' ')[1:8], ' ')) AS fp
  FROM documents
), assigned AS (
  SELECT doc_id, n_chars, fp,
         CAST(concat('0x', substring(md5(concat('split:', fp)), 1, 15))
              AS BIGINT) % 1000 AS bucket
  FROM keyed
), labeled AS (
  SELECT doc_id, n_chars, fp,
         CASE WHEN bucket < 800 THEN 'train'
              WHEN bucket < 900 THEN 'val'
              ELSE 'test' END AS split
  FROM assigned
), leak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked FROM (
    SELECT fp FROM labeled GROUP BY fp HAVING COUNT(DISTINCT split) > 1)
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(n_chars) AS BIGINT) AS char_sum,
       (SELECT n_leaked FROM leak) AS n_leaked_fp
FROM labeled GROUP BY split
"""


@register("llm_split_train_val_test", oracle=_SPLIT_ORACLE)
def llm_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split — keyed on the CONTENT
    fingerprint, not the doc id: exact-duplicate documents hash to the
    same bucket and therefore the same split, so duplicated text can
    never leak from train into test (the id-keyed split every naive
    pipeline starts with has exactly that leak; this corpus has real
    duplicates, so the distinction is live). The split is a pure
    map-side md5-permille filter — reproducible under retry, no rand(),
    the llm_sample_stratified discipline — and the output carries
    n_leaked_fp, the count of fingerprints straddling splits, which the
    construction forces to ZERO and the oracle re-derives independently.
    At 100 TB: zero shuffles for assignment; the leak audit is one
    fp-keyed map-side-combinable groupBy."""
    d = load_table(spark, "documents", sf_dir)
    bucket = F.pmod(md5_int60(F.concat(F.lit("split:"), F.col("fp"))),
                    F.lit(1000))
    labeled = (d.select("doc_id", "n_chars", _prefix_fingerprint().alias("fp"))
               .withColumn("split",
                           F.when(bucket < 800, "train")
                           .when(bucket < 900, "val")
                           .otherwise("test")))
    leak = (labeled.groupBy("fp")
            .agg(F.countDistinct("split").alias("ns"))
            .where(F.col("ns") > 1)
            .agg(F.count(F.lit(1)).alias("n_leaked_fp")))
    return (labeled.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").cast("bigint").alias("id_sum"),
                 F.sum("n_chars").cast("bigint").alias("char_sum"))
            .crossJoin(leak))


_URL_CANON_ORACLE = """
WITH u AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://site-' || CAST((doc_id // 4) % 20 AS VARCHAR)
                       || '.example.com/page/' || CAST(doc_id // 4 AS VARCHAR)
           WHEN 1 THEN 'https://site-' || CAST((doc_id // 4) % 20 AS VARCHAR)
                       || '.example.com/page/' || CAST(doc_id // 4 AS VARCHAR)
                       || '?utm_source=feed&utm_campaign=x'
           WHEN 2 THEN 'https://SITE-' || CAST((doc_id // 4) % 20 AS VARCHAR)
                       || '.EXAMPLE.COM/page/' || CAST(doc_id // 4 AS VARCHAR)
                       || '/'
           ELSE 'https://site-' || CAST((doc_id // 4) % 20 AS VARCHAR)
                       || '.example.com/page/' || CAST(doc_id // 4 AS VARCHAR)
                       || '?utm_medium=y#section-2'
         END AS url
  FROM documents
), canon AS (
  SELECT doc_id,
         regexp_replace(lower(regexp_replace(url, '[?#].*$', '')),
                        '/$', '') AS curl
  FROM u
)
SELECT curl AS canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM canon GROUP BY curl
"""


@register("llm_dedup_url_canonical", oracle=_URL_CANON_ORACLE)
def llm_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the cheapest, highest-yield dedup in
    any crawl pipeline and the one that runs BEFORE content hashing:
    the same logical page arrives under tracking-parameter, host-case,
    trailing-slash, and fragment variants (synthesized here: four
    consecutive doc_ids share one logical page id, each dressed
    differently), and
    canonicalizing — strip query+fragment, lowercase, strip trailing
    slash — collapses them without reading a byte of page content.
    Map-side regex chain + one groupBy on the canonical key; keeper =
    min doc_id per group (deterministic survivor). Keeping the regexes
    dialect-portable lets the oracle run the IDENTICAL normalization —
    the canonical-form definition, not just the counts, is what's
    cross-checked."""
    d = load_table(spark, "documents", sf_dir)
    page = F.floor(F.col("doc_id") / 4).cast("long")
    site = (page % 20).cast("string")
    base = F.concat(F.lit("https://site-"), site, F.lit(".example.com/page/"),
                    page.cast("string"))
    base_up = F.concat(F.lit("https://SITE-"), site,
                       F.lit(".EXAMPLE.COM/page/"), page.cast("string"))
    url = (F.when(F.col("doc_id") % 4 == 0, base)
           .when(F.col("doc_id") % 4 == 1,
                 F.concat(base, F.lit("?utm_source=feed&utm_campaign=x")))
           .when(F.col("doc_id") % 4 == 2, F.concat(base_up, F.lit("/")))
           .otherwise(F.concat(base, F.lit("?utm_medium=y#section-2"))))
    canon = F.regexp_replace(
        F.lower(F.regexp_replace(url, r"[?#].*$", "")), r"/$", "")
    return (d.select("doc_id", canon.alias("curl"))
            .groupBy(F.col("curl").alias("canonical_url"))
            .agg(F.count(F.lit(1)).alias("n_variants"),
                 F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
                 F.sum("doc_id").cast("bigint").alias("id_sum")))


# ---------------------------------------------------------------------------
# hard-negative mining
# ---------------------------------------------------------------------------

_HARDNEG_MOD = 20
_HARDNEG_K = 3

_HARDNEG_ORACLE = f"""
WITH q AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE vec_id % {_HARDNEG_MOD} = 0
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
         q.label AS query_label, c.label AS neg_label,
         round({_cosine_sql('q.embedding', 'c.embedding')}, 12) AS cosine_r
  FROM q JOIN embeddings c ON q.label <> c.label
)
SELECT query_id, neg_id, query_label, neg_label, cosine_r,
       CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_r DESC, neg_id) AS rn
      FROM scored) t
WHERE rn <= {_HARDNEG_K}
"""


@register("llm_hard_negative_mining", oracle=_HARDNEG_ORACLE)
def llm_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-3 most-similar vectors with a DIFFERENT label — the
    near-miss examples that teach an embedding model its decision
    boundary (random negatives are too easy; same-label neighbors are
    positives). Cosine is the shared sequential fold, rounded to 12 dp
    BEFORE ranking on both sides so GEMM-noise ties rank identically —
    the same discipline the kNN tile kernel pins.

    Scale shape: the query set (1/20th of vectors here; a fixed probe /
    eval set in production) is bounded, so it ships ONCE as a numpy
    matrix broadcast and the corpus streams through a mapInPandas GEMM
    — each batch scores all queries vectorized, masks same-label
    candidates, and emits only its batch-local top-k per query (a
    correct cut: the global (cosine_r desc, id asc) order is total, so
    the global top-k is contained in the union of batch-local top-ks).
    The merge window then ranks k·n_batches candidates per query, not
    the corpus. Measured 5.1 s → ~0.6 s at sf0.1 vs the per-pair JVM
    fold join, which remains the dispatch fallback if the query set
    ever exceeds the broadcast cap (past that, the IVF/LSH candidate
    generators above are the real answer)."""
    e = load_table(spark, "embeddings", sf_dir)
    q = (e.where(F.col("vec_id") % _HARDNEG_MOD == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"),
                 F.col("label").alias("query_label")))
    if q.count() <= _HARDNEG_FASTPATH_QUERIES:
        scored = _hardneg_gemm_candidates(spark, e, q)
    else:
        c = e.select(F.col("vec_id").alias("neg_id"),
                     F.col("embedding").alias("c_emb"),
                     F.col("label").alias("neg_label"))
        scored = (c.join(F.broadcast(q),
                         F.col("query_label") != F.col("neg_label"))
                  .select("query_id", "neg_id", "query_label", "neg_label",
                          F.round(_cosine_spark(F.col("q_emb"),
                                                F.col("c_emb")), 12)
                          .alias("cosine_r")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), "neg_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _HARDNEG_K)
            .select("query_id", "neg_id", "query_label", "neg_label",
                    "cosine_r", F.col("rank").cast("bigint").alias("rank")))


_HARDNEG_FASTPATH_QUERIES = 8192  # ~4 MB query matrix broadcast


def _hardneg_gemm_candidates(spark: SparkSession, e: DataFrame,
                             q: DataFrame) -> DataFrame:
    """Broadcast-queries GEMM: normalized query matrix to every executor,
    corpus batches scored vectorized, same-label masked, 12-dp-rounded
    BEFORE the batch-local top-k cut (selection and merge must share one
    order — the tile-kernel lesson)."""
    import numpy as np
    import pandas as pd

    qp = q.toPandas()  # bounded by the dispatch cap
    if qp.empty:  # empty shard: no queries, no candidates
        return spark.createDataFrame(
            [], ("query_id bigint, neg_id bigint, query_label bigint, "
                 "neg_label bigint, cosine_r double"))
    q_ids = qp["query_id"].to_numpy("int64")
    q_labels = qp["query_label"].to_numpy("int64")
    qm = _unit_rows(qp["q_emb"])
    bc = spark.sparkContext.broadcast((q_ids, q_labels, qm))
    k = _HARDNEG_K

    def run(batches):
        q_ids, q_labels, qm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy("int64")
            c_labels = pdf["label"].to_numpy("int64")
            cm = _unit_rows(pdf["embedding"])
            sims = np.round(qm @ cm.T, 12)
            # exact batch-local top-k under (val desc, neg_id asc); ties
            # at the kth value beyond k cannot be global winners because
            # the order is total
            qi, ci = _per_query_topk(
                sims, q_labels[:, None] != c_labels[None, :], q_ids, c_ids,
                k)
            if not len(qi):
                continue
            yield pd.DataFrame({
                "query_id": q_ids[qi], "neg_id": c_ids[ci],
                "query_label": q_labels[qi], "neg_label": c_labels[ci],
                "cosine_r": sims[qi, ci]})

    corpus = e.select("vec_id", "label", "embedding")
    return corpus.mapInPandas(
        run, schema=("query_id bigint, neg_id bigint, query_label bigint, "
                     "neg_label bigint, cosine_r double"))


# ---------------------------------------------------------------------------
# b-bit minhash sketch compression
# ---------------------------------------------------------------------------

_BBIT_K = 48  # 1-bit minhashes packed into one BIGINT (fits below the sign)

_BBIT_ORACLE = f"""
WITH d AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < 300 AND len(string_split(text, ' ')) >= 1
), sig AS (
  SELECT doc_id, toks,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(0, {_BBIT_K}), i ->
        list_aggregate(list_transform(toks, t ->
          CAST(concat('0x', substring(md5(CAST(i AS VARCHAR) || '#' || t),
                                      1, 15)) AS BIGINT)),
        'min') % 2)), (a, b) -> a * 2 + b) AS sig1
  FROM d
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))), 12) AS j_exact,
  GREATEST(0.0, 2.0 * CAST({_BBIT_K} - bit_count(xor(a.sig1, b.sig1))
                           AS DOUBLE) / {_BBIT_K} - 1.0) AS j_bbit
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
"""


@register("llm_minhash_bbit", oracle=_BBIT_ORACLE)
def llm_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-BIT minhash (b=1, k=48; Li & König) — the sketch-COMPRESSION
    end of the minhash family: keep only the lowest bit of each of 48
    portable-md5 minhashes and pack the whole signature into ONE
    BIGINT. Storage drops 64× vs full 64-bit minhashes (8 bytes per
    document for the entire near-dup signature — at 100 TB that is the
    difference between a signature table that fits executor memory and
    one that doesn't), and pair similarity becomes two machine ops:
    Ĵ = max(0, 2·(k − popcount(sig_a XOR sig_b))/k − 1), the b=1
    estimator that corrects for the 50% chance unrelated sets agree on
    a bit. The price is variance (σ ≈ 0.14 at k=48 — measured mean
    |Ĵ−J| = 0.099 on this corpus), which is why this op emits BOTH the
    exact token Jaccard and the estimate per pair: it is the
    measurement a team runs to decide whether compressed signatures
    are accurate enough for their dedup threshold before flipping the
    fleet to 8-byte sketches. tests/test_llm_quality.py gates the mean
    error quantitatively.

    Everything is engine-portable (md5-derived minhashes, identical
    bit packing via the same left fold) so the DuckDB oracle verifies
    the ESTIMATOR bit-for-bit, not just the exact-jaccard column. The
    pair space is bounded by contract (doc_id < 300 audit slice — the
    same bounded-audit shape as llm_sim_knn_*'s fastpath: estimate
    quality, not corpus-wide pairing, is the deliverable).

    Scale shape: signature build is one zero-shuffle map pass (HOF
    folds, no Python); the audit join is a bounded self-join. At fleet
    scale the signatures would feed the LSH banding path exactly like
    full minhashes — the banding key is bits, not widths."""
    d = (load_table(spark, "documents", sf_dir)
         .where((F.col("doc_id") < 300) & (F.size(_tokens()) >= 1))
         .select("doc_id",
                 F.array_distinct(_tokens()).alias("toks")))
    d2 = d.select("doc_id", "toks", md5_minhashes("toks", _BBIT_K).alias("mh"))
    bits = F.transform("mh", lambda m: m % 2)
    sig = F.aggregate(bits, F.lit(0).cast("bigint"),
                      lambda acc, x: acc * 2 + x)
    b = d2.select("doc_id", "toks", sig.alias("sig1"))
    aa = b.select(F.col("doc_id").alias("a_id"),
                  F.col("toks").alias("toks_a"), F.col("sig1").alias("sa"))
    bb = b.select(F.col("doc_id").alias("b_id"),
                  F.col("toks").alias("toks_b"), F.col("sig1").alias("sb"))
    pairs = aa.join(bb, F.col("a_id") < F.col("b_id"))
    j_exact = F.round(
        F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
        / F.size(F.array_union("toks_a", "toks_b")).cast("double"), 12)
    agree = F.lit(_BBIT_K) - F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    j_bbit = F.greatest(
        F.lit(0.0),
        2.0 * agree.cast("double") / F.lit(float(_BBIT_K)) - 1.0)
    return pairs.select("a_id", "b_id", j_exact.alias("j_exact"),
                        j_bbit.alias("j_bbit"))


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------

_PQ_M = 8           # subspaces (64-d -> 8 x 8-d)
_PQ_K = 16          # codes per subspace -> 4 bits each, 32 bits/vector
_PQ_ERR_SCALE = 10**12  # fixed-point units for order-free error sums


def _pq_train_codebooks(e: DataFrame, n: int):
    """Per-subspace k-means codebooks trained on a BOUNDED deterministic
    sample (hash-picked ~20 rows per code, the IVF recipe): k-means++
    seeding + 10 Lloyd rounds per subspace from one fixed-seed rng.
    Returns float64 (M, K, dim/M). Sample size scales with M*K, never
    with the corpus."""
    import numpy as np

    mod = max(1, n // (20 * _PQ_K * _PQ_M))
    samp = (e.where(F.pmod(F.xxhash64("vec_id"), F.lit(mod)) == 0)
            .select("embedding").toPandas())
    mat = _unit_rows(samp["embedding"])
    dim = mat.shape[1]
    sub = dim // _PQ_M
    rng = np.random.default_rng(42)
    books = []
    for m in range(_PQ_M):
        s = mat[:, m * sub:(m + 1) * sub]
        cent = [s[rng.integers(len(s))]]
        for _ in range(1, min(_PQ_K, len(s))):
            d2 = np.min([np.sum((s - c) ** 2, axis=1) for c in cent], axis=0)
            probs = d2 / d2.sum() if d2.sum() > 0 else None
            cent.append(s[rng.choice(len(s), p=probs)])
        cent = np.vstack(cent)
        for _ in range(10):  # Lloyd
            assign = np.argmin(
                ((s[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), axis=1)
            for c in range(len(cent)):
                members = s[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append(cent)
    return np.stack(books)


@register("llm_embedding_pq_quantize", oracle=None)
def llm_embedding_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the vector-store compression behind every
    billion-scale ANN index (FAISS IVF-PQ): split each L2-normalized
    64-d embedding into 8 subvectors, snap each to its nearest of 16
    per-subspace centroids, store 8×4 = 32 BITS per vector instead of
    64×32 float bits (64× compression). Codebooks train on a bounded
    hash-sample (driver numpy, fixed seed — the IVF recipe:
    train-on-sample, assign distributed); encoding and reconstruction
    error run distributed in mapInPandas. The report is the number a
    team reads before committing the index: relative reconstruction
    error Σ‖x−x̂‖²/Σ‖x‖² (energy-normalized MSE).

    Rows-only BY DESIGN: the k-means codebook step is iterative (SQL
    cannot express it — same class as IVF/BPE/PCA). Determinism is
    engineered anyway: per-vector errors are fixed-point int64 units
    summed exactly (order-free), so the output row is bit-identical
    under any partitioning — pinned, with the error bound and the
    compression arithmetic, in tests/test_llm_quality.py.

    Scale shape: train is corpus-size-free; encode is one map-side pass
    (128 small distance evals per vector inside a numpy batch); the
    report is one combinable integer aggregate."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    n = e.count()
    import math
    bits = _PQ_M * int(math.log2(_PQ_K))
    if n == 0:  # empty shard: nothing to train or encode; report the empty index
        enc = spark.createDataFrame(
            [], "vec_id bigint, err2_fp bigint, energy_fp bigint")
        return enc.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.lit(_PQ_M).cast("bigint").alias("m_subspaces"),
            F.lit(_PQ_K).cast("bigint").alias("k_codes"),
            F.lit(bits).cast("bigint").alias("bits_per_vector"),
            (F.sum("err2_fp").cast("double")
             / F.sum("energy_fp").cast("double")).alias("relative_mse"))
    books = _pq_train_codebooks(e, n)
    sub = books.shape[2]

    def encode(batches):
        for pdf in batches:
            mat = _unit_rows(pdf["embedding"])
            err2 = np.zeros(len(mat))
            for m in range(_PQ_M):
                s = mat[:, m * sub:(m + 1) * sub]
                d2 = ((s[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
                codes = np.argmin(d2, axis=1)
                err2 += d2[np.arange(len(s)), codes]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "err2_fp": np.round(err2 * _PQ_ERR_SCALE).astype("int64"),
                # normalized vectors: ||x||^2 == 1 exactly up to fp; use
                # the same fixed-point scale so the ratio is unit-free
                "energy_fp": np.full(len(s), _PQ_ERR_SCALE, dtype="int64"),
            })

    enc = e.mapInPandas(
        encode, schema="vec_id bigint, err2_fp bigint, energy_fp bigint")
    import math
    bits = _PQ_M * int(math.log2(_PQ_K))
    return enc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.lit(_PQ_M).cast("bigint").alias("m_subspaces"),
        F.lit(_PQ_K).cast("bigint").alias("k_codes"),
        F.lit(bits).cast("bigint").alias("bits_per_vector"),
        (F.sum("err2_fp").cast("double")
         / F.sum("energy_fp").cast("double")).alias("relative_mse"))


# ---------------------------------------------------------------------------
# interpolated Kneser–Ney bigram LM score
# ---------------------------------------------------------------------------

_KN_D = 0.75

_KN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)), i -> l[i])) AS t1,
         unnest(list_transform(range(1, len(l)), i -> l[i + 1])) AS t2
  FROM toks
), c2 AS (
  SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY t1, t2
), hist AS (
  SELECT t1, CAST(SUM(c) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS nfwd
  FROM c2 GROUP BY t1
), bwd AS (
  SELECT t2, CAST(COUNT(*) AS BIGINT) AS nbwd FROM c2 GROUP BY t2
), tt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM c2
)
SELECT bg.doc_id,
       round(AVG(ln(
         (CAST(c2.c AS DOUBLE) - {_KN_D}) / CAST(hist.h AS DOUBLE)
         + (({_KN_D} * CAST(hist.nfwd AS DOUBLE)) / CAST(hist.h AS DOUBLE))
           * (CAST(bwd.nbwd AS DOUBLE) / CAST(tt.t_types AS DOUBLE)))), 6)
         AS avg_logprob_kn,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams
FROM bg JOIN c2 ON bg.t1 = c2.t1 AND bg.t2 = c2.t2
JOIN hist ON bg.t1 = hist.t1
JOIN bwd ON bg.t2 = bwd.t2
CROSS JOIN tt
GROUP BY bg.doc_id
"""


@register("llm_lm_score_kneser_ney", oracle=_KN_ORACLE)
def llm_lm_score_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram score per document — the standard
    n-gram smoothing (absolute discount D=0.75 plus a CONTINUATION
    unigram: how many distinct histories a word completes, not how often
    it occurs), one refinement past llm_lm_score_bigram's add-k. The
    difference matters for curation: add-k over-scores documents stuffed
    with frequent-but-context-bound words ("francisco" is frequent yet
    only ever follows "san"; its continuation count is 1, so KN scores
    scrambled text honestly). P(w₂|w₁) = (c(w₁w₂)−D)/c(w₁·) +
    (D·N₁₊(w₁·)/c(w₁·))·(N₁₊(·w₂)/T). Every count is an exact BIGINT;
    c ≥ 1 > D so the discounted mass needs no max(); the per-doc AVG of
    ln rounds to 6 dp (cross-engine float-sum order, the bigram-LM
    precedent).

    Scale shape: all four model tables (bigram counts, history sums +
    forward fan-out, backward fan-out, type total) are map-side
    combinable groupBys bounded by VOCABULARY (Heaps' law), not corpus —
    they broadcast; the per-doc score is one re-aggregation by doc_id."""
    d = load_table(spark, "documents", sf_dir).where(F.size(_tokens()) >= 2)
    toks = d.select("doc_id", _tokens().alias("l"))
    bg = (toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("l") - 1)).alias("i"), "l")
        .select("doc_id", F.element_at("l", F.col("i")).alias("t1"),
                F.element_at("l", F.col("i") + 1).alias("t2")))
    c2 = (bg.groupBy("t1", "t2")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    hist = (c2.groupBy("t1")
            .agg(F.sum("c").cast("bigint").alias("h"),
                 F.count(F.lit(1)).cast("bigint").alias("nfwd")))
    bwd = (c2.groupBy("t2")
           .agg(F.count(F.lit(1)).cast("bigint").alias("nbwd")))
    tt = c2.agg(F.count(F.lit(1)).cast("bigint").alias("t_types"))
    p = ((F.col("c").cast("double") - F.lit(_KN_D))
         / F.col("h").cast("double")
         + ((F.lit(_KN_D) * F.col("nfwd").cast("double"))
            / F.col("h").cast("double"))
         * (F.col("nbwd").cast("double") / F.col("t_types").cast("double")))
    return (bg.join(F.broadcast(c2), ["t1", "t2"])
            .join(F.broadcast(hist), "t1")
            .join(F.broadcast(bwd), "t2")
            .crossJoin(F.broadcast(tt))
            .groupBy("doc_id")
            .agg(F.round(F.avg(F.log(p)), 6).alias("avg_logprob_kn"),
                 F.count(F.lit(1)).cast("bigint").alias("n_bigrams")))


# ---------------------------------------------------------------------------
# Matryoshka truncation recall eval
# ---------------------------------------------------------------------------

_MRL_DIM = 16
_MRL_K = 3
_MRL_NQ = 50


def _dot_sql_d(a: str, b: str, d: int) -> str:
    return (f"list_reduce(list_transform(range(1, {d + 1}), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
            f"(x, y) -> x + y)")


def _cos_sql_d(a: str, b: str, d: int) -> str:
    dot = _dot_sql_d(a, b, d)
    na = _dot_sql_d(a, a, d)
    nb = _dot_sql_d(b, b, d)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def _mrl_oracle() -> str:
    # cosines 6-dp rounded BEFORE ranking in both engines (lets the
    # engine side run the pair pass as one GEMM — float64 dots agree
    # across summation orders to ~1e-13; rounded ties break on pid
    # identically in both engines)
    full = f"round({_cos_sql_d('q.embedding', 'p.embedding', 64)}, 6)"
    trunc = (f"round({_cos_sql_d('q.embedding', 'p.embedding', _MRL_DIM)}"
             ", 6)")
    return f"""
WITH pairs AS (
  SELECT q.vec_id AS qid, p.vec_id AS pid,
         {full} AS cos_full, {trunc} AS cos_trunc
  FROM embeddings q JOIN embeddings p ON q.vec_id <> p.vec_id
  WHERE q.vec_id < {_MRL_NQ}
), rf AS (
  SELECT qid, pid,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_full DESC, pid) AS rk
  FROM pairs
), rt AS (
  SELECT qid, pid,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_trunc DESC, pid) AS rk
  FROM pairs
)
SELECT rf.qid AS vec_id,
       CAST(COUNT(rt.pid) AS BIGINT) AS n_overlap,
       CAST(COUNT(rt.pid) AS DOUBLE) / {_MRL_K}.0 AS recall_at{_MRL_K}
FROM rf LEFT JOIN rt
  ON rf.qid = rt.qid AND rf.pid = rt.pid AND rt.rk <= {_MRL_K}
WHERE rf.rk <= {_MRL_K}
GROUP BY rf.qid
"""


@register("llm_embedding_matryoshka_recall", oracle=_mrl_oracle())
def llm_embedding_matryoshka_recall(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit — per query, recall@3 of the
    16-dim-PREFIX neighbor ranking against the full 64-dim ranking:
    the measure-before-you-truncate table for MRL-style embeddings
    (llm_embedding_truncate_renorm performs the truncation; this op
    answers whether the cheap prefix is SAFE — 4× storage/compute
    savings priced in lost neighbors). Both rankings rank the
    6-dp-ROUNDED cosine with vec_id tie-breaks in both engines (the
    knn-family discipline; the old per-pair interpreted fold paid
    ~24M interpreted lambda steps, 3.6 s at sf0.1; the broadcast-query
    GEMM form ~0.8 s); recall is one exact small-int division.

    Scale shape: the ≤50-row query block (bounded by contract) ships to
    every pool batch and both dims' cosines come off ONE mapInPandas
    GEMM pass over the pool — the llm_eval_ndcg_at10 scaffold; per-query
    top-k windows are query-keyed. At corpus scale the pool side tiles
    (the kNN GEMM path).

    EAGER-COLLECT EXCEPTION: the query block's
    ``toPandas()`` runs at construction time so the GEMM closure can
    capture it — see llm_eval_retrieval_mrr's docstring for the full
    statement of the tradeoff (one bounded plan-time job; the block is
    a build-time snapshot)."""
    e = load_table(spark, "embeddings", sf_dir)
    qpd = (e.where(F.col("vec_id") < _MRL_NQ)
           .select("vec_id", "embedding").toPandas())
    p = e.select("vec_id", "embedding")
    pair_schema = ("qid bigint, pid bigint, cos_full double, "
                   "cos_trunc double")
    if len(qpd):
        import numpy as _np

        _qids = qpd["vec_id"].to_numpy().astype("int64")
        _qm = _np.vstack(qpd["embedding"].to_numpy()).astype(_np.float64)

        def gen(batches):
            import numpy as np
            import pandas as pd

            qn_full = np.sqrt(np.einsum("ij,ij->i", _qm, _qm))
            qt = _qm[:, :_MRL_DIM]
            qn_tr = np.sqrt(np.einsum("ij,ij->i", qt, qt))
            for pdf in batches:
                if not len(pdf):
                    continue
                pids = pdf["vec_id"].to_numpy().astype("int64")
                pm = np.vstack(pdf["embedding"].to_numpy()) \
                    .astype(np.float64)
                pn_full = np.sqrt(np.einsum("ij,ij->i", pm, pm))
                pt = pm[:, :_MRL_DIM]
                pn_tr = np.sqrt(np.einsum("ij,ij->i", pt, pt))
                cf = np.round((pm @ _qm.T)
                              / np.outer(pn_full, qn_full), 6)
                ct = np.round((pt @ qt.T) / np.outer(pn_tr, qn_tr), 6)
                pi, qi = np.nonzero(
                    pids[:, None] != _qids[None, :])
                yield pd.DataFrame({"qid": _qids[qi], "pid": pids[pi],
                                    "cos_full": cf[pi, qi],
                                    "cos_trunc": ct[pi, qi]})

        pairs = p.mapInPandas(gen, pair_schema) \
            .localCheckpoint(eager=False)  # both rankings share it
    else:  # empty shard: no queries -> exact-schema empty result
        pairs = spark.createDataFrame([], pair_schema)
    wq = Window.partitionBy("qid")
    rf = (pairs.select("qid", "pid",
                       F.row_number()
                       .over(wq.orderBy(F.col("cos_full").desc(), "pid"))
                       .alias("rk"))
          .where(F.col("rk") <= _MRL_K))
    rt = (pairs.select("qid", "pid",
                       F.row_number()
                       .over(wq.orderBy(F.col("cos_trunc").desc(), "pid"))
                       .alias("rk"))
          .where(F.col("rk") <= _MRL_K)
          .select(F.col("qid").alias("qid2"), F.col("pid").alias("pid2")))
    return (rf.join(rt, (F.col("qid") == F.col("qid2"))
                    & (F.col("pid") == F.col("pid2")), "left")
            .groupBy(F.col("qid").alias("vec_id"))
            .agg(F.count("pid2").cast("bigint").alias("n_overlap"),
                 (F.count("pid2").cast("double") / F.lit(float(_MRL_K)))
                 .alias(f"recall_at{_MRL_K}")))


# ---------------------------------------------------------------------------
# MLlib LSH interop
# ---------------------------------------------------------------------------

# The model's 6 random unit hyperplanes, FROZEN as literals:
# BucketedRandomProjectionLSH's projection depends only on
# (seed=42, dim=64, numHashTables=6) -- never on the data -- verified
# identical across sf0.001/0.01/0.1 fits. Freezing them makes the whole
# MLlib pipeline DuckDB-replayable: bucket ids floor(dot/2.0), candidate
# pairs via per-table bucket equality, exact Euclidean verify < 1.2.
# MLlib's ddot and Vectors.sqdist are sequential index-order loops, so
# DuckDB's left-fold list_reduce reproduces every double bit-for-bit
# (prototype-verified value-identical at sf0.001 AND sf0.01).
_LSH_MLLIB_VECS: tuple[tuple[float, ...], ...] = (
    (0.12949674375780473, 0.10426463032006292, -0.10771877038736019, -0.1255372363345624, 0.031864015961875526, 0.07763903148140297, -0.09267625761376243, -0.15838508708815516, -0.02165389051618035, 0.16854269109352538, 0.09098491965165977, -0.013780063771881217, 0.15995718784720656, -0.07260502199283608, -0.13717864034381758, 0.040117573088542115, -0.05560766029690286, 0.062454079998983995, -0.1364876173085817, 0.036404539477744795, 0.17590650082725473, 0.049731132116372166, 0.054615194300076435, 0.17233239373966974, -0.03139385289904706, -0.009519024250218314, 0.1424166108604675, -0.03688726820688779, -0.019651834133742857, -0.21077117424649872, 0.16146554421004417, -0.15465212141720716, -0.2228011893040183, -0.10417242087441117, -0.2890542789985285, -0.18495762435445184, -0.013835841572937869, 0.1461959233590042, -0.030521449505394982, 0.029200581252854782, -0.036279601655707094, -0.2005551336051944, -0.05482524727370144, -0.057835009365983805, 0.1266353384984892, -0.004643580505872421, -0.1256144906681653, 0.21119488292759514, 0.1299317417234659, -0.12005833484317877, 0.12163713866691228, -0.21906770558940117, 0.03413749349242529, 0.02807014081433207, 0.15946395092753893, -0.17239926149026796, 0.03072450601327282, 0.06364796961267483, -0.0600848460661747, 0.06112732611580623, 0.25088844927734233, -0.07177726126717898, -0.21355986809913746, 0.04383816738170152),
    (0.04324546763126772, -0.1196250007447754, -0.000355742170688643, -0.06290591868245525, -0.07273002664444873, -0.0025350541717712822, 0.21857258132453325, -0.14693412707906917, 0.07881307914343753, -0.020660480606120326, 0.0880343533187672, 0.16282531161891542, 0.11732429428317515, 0.02942823915355396, 0.1220668317446316, -0.09813315096329371, 0.10664634497642195, -0.03370424478078597, -0.10137999150787967, -0.24747202128264886, -0.24704059522100943, -0.07652882574249704, -0.05428342382724887, 0.03297680839243599, -0.06382884375871065, 0.059223190811845725, -0.059273205519043574, 0.006057363702502043, 0.09351308498819277, -0.03607765734181544, 0.010717326609066756, 0.1671127197096646, 0.10133632225224352, 0.22856203619428414, 0.019371121326215757, -0.13201596955909142, 0.026644357112041522, 0.11895237041886508, 0.2006419009478108, -0.18627509281145743, -0.25310124524861277, 0.181641915258207, -0.07428222129311543, 0.098827609066886, 0.2088636922985201, 0.1497187960249646, -0.02549389751561777, -0.2992261327735093, 0.058379038344302144, 0.08717337513955836, -0.09887300181280123, 0.15919954423297916, 0.23621567316506964, 0.008946170086847385, 0.1718864885541727, -0.07733534461311735, 0.10204751223628504, 0.05543424240252225, -0.06225994690770243, 0.054967533676602995, 0.0879992390575857, 0.11509781648299505, 0.03937942153452649, 0.04267392826482056),
    (0.2253599547352401, 0.084686016900039, -0.12090235717915984, 0.012037035560567483, 0.05653929989547702, -0.19784366335303277, 0.15157652606891173, -0.07726288997430494, 0.09069712513868437, -0.01850775179851565, 0.09420127205578385, -0.044324398614280294, -0.01062930981041057, -0.06194936947753676, 0.03574121958713461, -0.11595951529739637, -0.06624457677123273, 0.2712366777191197, 0.01533153186863178, 0.18713711661424884, 0.04465499294074913, 0.08888672766398283, 0.0959456780978348, -0.07089928799994677, -0.23457091437136127, 0.009604915537812436, 0.019456711376994573, -0.10214125471448683, -0.21790520325684198, 0.16383454757654273, 0.055456209262321005, 0.16443921269983677, 0.037453954195909266, 0.12401790285189035, 0.08866502795089151, -0.02938251183534179, 0.04390435464347258, 0.10202408760518072, 0.18064985547214535, 0.13747465326312658, 0.045180519164631894, 0.14098454107711914, 0.0033389589485273265, -0.0812388597453255, -0.0017409007440788824, -0.13338295982400739, -0.0028185053398772997, 0.19979634198148805, 0.13939946082109098, -0.12874306733279453, 0.029588120684531684, 0.15535201312812244, 0.01059987575708014, -0.13304607224460271, 0.18034472263476178, 0.040046209069542905, -0.05070562271716691, -0.20676253064762004, 0.11012487642391115, -0.10545618963525344, 0.19875023092077387, 0.09380610937437693, 0.13795962125376615, 0.2927722551070435),
    (-0.06374135683995162, -0.09219503246981259, 0.20387147163340155, -0.10935797479905664, -0.04308987473913211, -0.22053735363025692, -0.0689505866185994, -0.335906687103947, 0.039147854997285396, -0.1496523981120987, -0.22241719602183366, 0.010556593479734708, -0.17237743213626663, 0.09042793042560178, -0.16716014790388486, 0.1623874130871556, 0.0016294745422463736, 0.0852497427913705, -0.17153256310120862, 0.10578917251323942, 0.0793227971835568, 0.016029777279764824, 0.05042081026847254, -0.07556934199188059, 0.05626682220005956, -0.10333901194035604, 0.008307604126977912, -0.09633777979600622, 0.1532688478369975, 0.11940703413743275, 0.16071269411711286, -0.009202061603050597, -0.07346227785473011, 0.1364132505370998, 0.12256128954494584, -0.08972364033338956, 0.11501214463815192, -0.328871752830656, 0.054044983219077775, 0.052742933259140166, 0.10928698480434651, -0.045185470946430495, 0.13894898075688086, -0.030477763874640906, 0.020215754742539182, 0.08675717574067274, 0.047838716967836085, 0.012605032955128678, -0.16082285233359414, -0.03444399726472531, -0.07829696607501378, -0.01900287098000823, 0.244327756207043, 0.23932680858694025, -0.10052570582133381, -0.01990727013443709, 0.01781187785973467, -0.1183833051902047, 0.02475355910216522, 0.0938850567409529, -0.05664336305195141, -0.023485688576799755, 0.10434324461021213, 0.17995762924893127),
    (-0.04588252021283568, 0.1387317952283188, 0.0065684144854210365, 0.18003805218601565, 0.03511883453168031, 0.003589069130548828, -0.10934561679758695, 0.05240981125922147, 0.03090535049122159, 0.06846025101605213, -0.029549272469793633, 0.12532422847602587, -0.020224373495172625, -0.15265508232243485, 0.1208261292158345, -0.11767479165400835, 0.010218268196416498, 0.1276748687238404, -0.05521047798094339, -0.004968238371528479, -0.06230538851990376, -0.11261797551800488, 0.2903340556480377, -0.0875568390368542, 0.23729023642535707, 0.09523776687635314, 0.10985244775720612, 0.19852813559013713, 0.24663539235039952, 0.02312701816109653, 0.10836260920994398, -0.14011253118602368, -0.17359370900506144, 0.05205043273796536, 0.038683760046301655, 0.11957944796535061, 0.005140319714558204, 0.054289228650874995, -0.11286885722466486, -0.053261086115618146, 0.12259088487537377, 0.05827049772227545, -0.10059612714202935, -0.13227600143153437, 0.15126476474544678, 0.07667520749442183, -0.06848347210158913, -0.12412177140680389, -0.15694581802982344, 0.20776133246886636, 0.2153459392215327, 0.12940848333505964, -0.10559212771554222, 0.09254263155427896, 0.0746888184020962, -0.1446598452097897, -0.03628464569569872, -0.18588075566092302, 0.02605694237342341, -0.1480932943319222, -0.057533619458372216, 0.05075983592260784, -0.24908858412608403, 0.22941263500059736),
    (-0.040586224805299415, 0.07571794982130449, -0.08239399067119496, -0.01940736041101375, -0.0074623769722752, 0.12794185728045004, -0.02431105692913643, -0.2709050161083505, -0.02628595176754406, -0.14677750965414432, -0.06539271171281519, 0.01316497419457142, -0.09471441598179196, -0.11760018488836295, 0.22261849329110503, 0.009268327538569238, -0.0694421658236383, 0.021672203642208312, 0.0007861100051753024, 0.04881522500841821, 0.07420851122403761, 0.20016284897403716, 0.3518940259681529, 0.09435281894785494, -0.09227593602188931, 0.15689858599096354, 0.09998537425589085, -0.14879207696248664, 0.04124896636985484, 0.12495737612730995, -0.20938452133530583, 0.06569797035464708, 0.07280965310061537, 0.10430966161886283, 0.002814503067534278, 0.0019161058307797687, -0.06553157253899244, 0.03212927829689908, 0.011750249065949786, 0.1501378488326121, 0.09510567749880272, -0.23388849331386447, 0.07496284880105017, 0.13188661653939895, -0.004301036805133156, 0.20915796733931935, 0.18753836817842862, -0.0028957352736365145, -0.13304063743371503, 0.1251971989001084, -0.1255729515740061, -0.07372058751213192, -0.04598699169840051, -0.10803627797767519, 0.23070475252160838, -0.006453374504556418, -0.1035406470424755, 0.18910746810552628, 0.0615017611276651, -0.09408905295638485, -0.042999620145599354, 0.22808948603410173, -0.17058575499326456, -0.07463242061118398),
)


def _lsh_mllib_oracle() -> str:
    uv_rows = ",\n    ".join(
        f"({t}, [{', '.join(repr(x) for x in v)}]::DOUBLE[])"
        for t, v in enumerate(_LSH_MLLIB_VECS))
    dot_u = ("list_reduce(list_transform(range(1, 65), "
             "i -> CAST(e.embedding[i] AS DOUBLE) * u.uv[i]), "
             "(x, y) -> x + y)")
    sqd = ("list_reduce(list_transform(range(1, 65), "
           "i -> (CAST(ea.embedding[i] AS DOUBLE)"
           " - CAST(eb.embedding[i] AS DOUBLE))"
           " * (CAST(ea.embedding[i] AS DOUBLE)"
           " - CAST(eb.embedding[i] AS DOUBLE))), (x, y) -> x + y)")
    return f"""
WITH u(tbl, uv) AS (
  VALUES {uv_rows}
), h AS (
  SELECT e.vec_id, u.tbl, floor({dot_u} / 2.0) AS hv
  FROM embeddings e CROSS JOIN u
), cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM h a JOIN h b
    ON a.tbl = b.tbl AND a.hv = b.hv AND a.vec_id < b.vec_id
), verified AS (
  SELECT c.a_id, c.b_id, sqrt({sqd}) AS dist
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.a_id
  JOIN embeddings eb ON eb.vec_id = c.b_id
)
SELECT a_id, b_id, round(dist, 6) AS dist_6dp
FROM verified WHERE dist < 1.2
"""


@register("llm_sim_lsh_mllib", oracle=_lsh_mllib_oracle())
def llm_sim_lsh_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib interop: BucketedRandomProjectionLSH over the embedding
    column — the LIBRARY implementation of the same E2LSH family the
    hand-built llm_sim_lsh_approx composes from expressions, wired
    through `array_to_vector` (the ArrayType ↔ MLlib VectorUDT bridge a
    Spark shop actually uses). Seeded, so the candidate pair set is
    deterministic (re-run-identical, pinned by the recall gate in
    test_llm_quality.py against the exact sub-1.2-distance pairs), and
    VALUE-EXACT oracled: the seeded projection is data-independent, so
    its six hyperplanes are frozen as literals (_LSH_MLLIB_VECS) and
    DuckDB replays bucket assignment, candidate generation and the
    distance verify bit-for-bit.

    Scale shape: fit() draws the projection once (dimension-sized, not
    corpus-sized); approxSimilarityJoin explodes per-table hash buckets
    and equi-joins on (table, hash) — the same banded-bucket shape as
    the house LSH, with distance verify after the bucket join. MEASURED
    LIMITATION: MLlib has NO hot-bucket guard, so the 10×
    duplicate-corpus probe goes quadratic inside buckets (16.6× wall for
    10× data — candidate pairs grow ~100× with duplicate mass). The
    house llm_sim_lsh_approx caps degenerate buckets with chaining and
    stays linear; at 100 TB the house implementation is the path and
    this op is the interop bridge.

    Optimization (same treatment as llm_sim_lsh_approx): fit +
    transform stay MLlib — the seeded projection and JVM bucket
    assignment are untouched — but approxSimilarityJoin's physical plan
    (a broadcast hash join of full structs on (table, hash) filtered by
    the keyDistance UDF on every RAW pair, a full-struct Exchange +
    HashAggregate distinct, and a second keyDistance per survivor) is
    replaced by the
    narrow candidate join of :func:`_brp_candidate_pairs` and ONE
    sequential-fold distance per distinct pair (:func:`_brp_pairs_verified`
    — bit-identical to Vectors.sqdist and to this oracle's list_reduce
    left fold, so the value-exact oracle is unchanged and still matches
    bit-for-bit)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    e = _lsh_input(spark, sf_dir)
    if not e.take(1):  # MLlib fit() rejects an empty dataset; empty shard -> no pairs
        return spark.createDataFrame(
            [], "a_id bigint, b_id bigint, dist_6dp double")
    lsh = BucketedRandomProjectionLSH(inputCol="lsh_v", outputCol="lsh_h",
                                      bucketLength=2.0, numHashTables=6,
                                      seed=42)
    model = lsh.fit(e)
    return (_brp_pairs_verified(spark, sf_dir, model, e, n_tables=6)
            .select("a_id", "b_id",
                    F.round(F.col("dist"), 6).alias("dist_6dp")))


# ---------------------------------------------------------------------------
# retrieval MRR eval over labeled embeddings
# ---------------------------------------------------------------------------

_MRR_NQ = 50
_MRR_K = 10
_MRR_LCM = 2520  # lcm(1..10): every reciprocal rank is exact in integers


def _mrr_oracle() -> str:
    # cosine 6-dp rounded BEFORE ranking in both engines (the
    # llm_embedding_matryoshka_recall rationale)
    cos = f"round({_cos_sql_d('q.embedding', 'p.embedding', 64)}, 6)"
    return f"""
WITH pairs AS (
  SELECT q.vec_id AS qid, q.label AS ql, p.vec_id AS pid, p.label AS pl,
         {cos} AS c
  FROM embeddings q JOIN embeddings p ON q.vec_id <> p.vec_id
  WHERE q.vec_id < {_MRR_NQ}
), ranked AS (
  SELECT qid, ql, pl,
         row_number() OVER (PARTITION BY qid ORDER BY c DESC, pid) AS rk
  FROM pairs
), hit AS (
  SELECT qid, CAST(MAX(ql) AS BIGINT) AS label,
         MIN(CASE WHEN pl = ql AND rk <= {_MRR_K} THEN rk END) AS fh
  FROM ranked GROUP BY qid
)
SELECT qid AS vec_id, label,
       CAST(COALESCE(fh, 0) AS BIGINT) AS first_hit_rank,
       CAST(CASE WHEN fh IS NULL THEN 0
                 ELSE {_MRR_LCM} // fh END AS BIGINT) AS rr_x{_MRR_LCM},
       COALESCE(fh = 1, false) AS hit_at_1,
       fh IS NOT NULL AS hit_at_{_MRR_K}
FROM hit
"""


@register("llm_eval_retrieval_mrr", oracle=_mrr_oracle())
def llm_eval_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality MRR table over the labeled embeddings: for each
    query vector, the rank of the FIRST same-label neighbor in the exact
    cosine top-10, its reciprocal rank, and hit@1/hit@10 flags -- the
    kNN-classification readout every embedding-model upgrade is gated
    on (llm_embedding_matryoshka_recall audits a TRUNCATION against the
    full ranking; this audits the full ranking against GROUND-TRUTH
    labels). MRR itself is Sum(rr)/n -- emitted here as the exact
    integer rr*2520 per query (2520 = lcm(1..10), so every reciprocal
    rank is a whole number and the mean is one exact division away),
    the no-float-fold trick.

    Determinism: both engines rank the 6-dp-ROUNDED cosine with pid
    tie-breaks (the knn-family discipline; the per-pair interpreted
    fold measured 2.6 s at sf0.1; the broadcast-query mapInPandas GEMM
    ~0.8 s); first-hit is a conditional MIN over integer ranks; all
    output columns are integers and booleans -- hash-exact.

    Scale shape: the ≤50-row query block (bounded by contract) ships to
    every pool batch; ONE GEMM pass emits the pair table; the per-query
    window is query-keyed. At corpus scale the pool side tiles (kNN
    GEMM path) and ranks merge per tile.

    EAGER-COLLECT EXCEPTION: the query block's
    ``toPandas()`` runs at DataFrame-CONSTRUCTION time, not action
    time — the GEMM closure must capture the block as numpy arrays
    before ``mapInPandas`` is declared, and executors cannot launch
    the collecting job themselves. Consequences, accepted for this op
    and llm_embedding_matryoshka_recall only: (a) plan-only tooling
    pays one bounded ≤50-row job; (b) the queries are a SNAPSHOT — a
    table mutated between build and execution scores against the
    build-time block. Every other operator stays lazy; the block is a
    contract-bounded constant slice, the same boundedness argument as
    the size-dispatched toPandas sites above."""
    e = load_table(spark, "embeddings", sf_dir)
    qpd = (e.where(F.col("vec_id") < _MRR_NQ)
           .select("vec_id", "label", "embedding").toPandas())
    pair_schema = "qid bigint, ql bigint, pl bigint, pid bigint, c double"
    if len(qpd):
        import numpy as _np

        _qids = qpd["vec_id"].to_numpy().astype("int64")
        _qls = qpd["label"].to_numpy().astype("int64")
        _qm = _np.vstack(qpd["embedding"].to_numpy()).astype(_np.float64)

        def gen(batches):
            import numpy as np
            import pandas as pd

            qn = np.sqrt(np.einsum("ij,ij->i", _qm, _qm))
            for pdf in batches:
                if not len(pdf):
                    continue
                pids = pdf["vec_id"].to_numpy().astype("int64")
                pls = pdf["label"].to_numpy().astype("int64")
                pm = np.vstack(pdf["embedding"].to_numpy()) \
                    .astype(np.float64)
                pn = np.sqrt(np.einsum("ij,ij->i", pm, pm))
                c = np.round((pm @ _qm.T) / np.outer(pn, qn), 6)
                pi, qi = np.nonzero(pids[:, None] != _qids[None, :])
                yield pd.DataFrame({"qid": _qids[qi], "ql": _qls[qi],
                                    "pl": pls[pi], "pid": pids[pi],
                                    "c": c[pi, qi]})

        pairs = e.select("vec_id", "label", "embedding") \
            .mapInPandas(gen, pair_schema)
    else:  # empty shard: no queries -> exact-schema empty result
        pairs = spark.createDataFrame([], pair_schema)
    wq = Window.partitionBy("qid").orderBy(F.col("c").desc(), "pid")
    ranked = pairs.select("qid", "ql", "pl",
                          F.row_number().over(wq).alias("rk"))
    hit = (ranked.groupBy("qid")
           .agg(F.max("ql").cast("bigint").alias("label"),
                F.min(F.when((F.col("pl") == F.col("ql"))
                             & (F.col("rk") <= _MRR_K), F.col("rk")))
                .alias("fh")))
    return hit.select(
        F.col("qid").alias("vec_id"), "label",
        F.coalesce("fh", F.lit(0)).cast("bigint").alias("first_hit_rank"),
        F.when(F.col("fh").isNull(), F.lit(0))
        .otherwise(F.expr(f"{_MRR_LCM} div fh"))
        .cast("bigint").alias(f"rr_x{_MRR_LCM}"),
        F.coalesce(F.col("fh") == 1, F.lit(False)).alias("hit_at_1"),
        F.col("fh").isNotNull().alias(f"hit_at_{_MRR_K}"))


# ---------------------------------------------------------------------------
# interleaved multimodal sequence packing
# ---------------------------------------------------------------------------

_IMG_TOKENS = 576       # ViT-style patch count per image
_INTERLEAVE_BUDGET = 2048

_INTERLEAVED_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS text_tokens,
         CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS has_image
  FROM documents
), costed AS (
  SELECT doc_id, lang, text_tokens, has_image,
         text_tokens + {_IMG_TOKENS} * has_image AS cost
  FROM docs
), placed AS (
  SELECT lang, text_tokens, has_image, cost,
         CAST((SUM(cost) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - cost)
              // {_INTERLEAVE_BUDGET} AS BIGINT) AS seq_id
  FROM costed
)
SELECT lang, seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(has_image) AS BIGINT) AS n_images,
       CAST(SUM(text_tokens) AS BIGINT) AS text_tokens,
       CAST(SUM(has_image) * {_IMG_TOKENS} AS BIGINT) AS image_tokens,
       CAST(SUM(cost) AS DOUBLE) / {_INTERLEAVE_BUDGET}.0 AS fill_ratio
FROM placed GROUP BY lang, seq_id
"""


@register("llm_multimodal_interleaved_pack", oracle=_INTERLEAVED_ORACLE)
def llm_multimodal_interleaved_pack(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Interleaved text+image sequence packing -- the modern
    multimodal-pretraining data shape: documents flow into fixed
    2048-token training sequences where an attached image costs a FIXED
    patch budget (576 ViT tokens) on top of the text (every 7th doc
    carries one image, the multimodal-fixture convention). The manifest
    reports per-sequence doc/image counts and the text/image token
    split -- the numbers that set the text-image mixing ratio a
    multimodal run is tuned by, and the reason packing must price
    images IN TOKENS, not bytes (llm_pack_sequences prices text only).

    Scale shape: identical to llm_pack_sequences -- map-side costing,
    language-partitioned running-sum placement, combinable manifest
    rollup; the binary payload itself never moves (only its token
    PRICE does), which is the point of manifest-first packing."""
    d = load_table(spark, "documents", sf_dir)
    costed = d.select(
        "doc_id", "lang",
        F.size(_tokens()).cast("bigint")
        .alias("text_tokens"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(1)).otherwise(F.lit(0))
        .alias("has_image"))
    costed = costed.withColumn(
        "cost", F.col("text_tokens") + _IMG_TOKENS * F.col("has_image"))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = F.sum("cost").over(w) - F.col("cost")
    placed = costed.select(
        "lang", "text_tokens", "has_image", "cost",
        F.floor(start / _INTERLEAVE_BUDGET).cast("bigint").alias("seq_id"))
    return (placed.groupBy("lang", "seq_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("has_image").cast("bigint").alias("n_images"),
                 F.sum("text_tokens").cast("bigint").alias("text_tokens"),
                 (F.sum("has_image") * _IMG_TOKENS).cast("bigint")
                 .alias("image_tokens"),
                 (F.sum("cost").cast("double")
                  / F.lit(float(_INTERLEAVE_BUDGET))).alias("fill_ratio")))
