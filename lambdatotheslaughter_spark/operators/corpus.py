"""Corpus-curation, retrieval and LLM-evaluation operators (SURVEY.md §2.13).

The training-data pipeline's second ring: once dedup/quality/similarity
(llm.py) have shaped the corpus, these build the artifacts a data team
actually ships — survivor selection per duplicate cluster, winnowing
fingerprints for plagiarism/contamination audits, inverted postings for
retrieval, per-language n-gram tables, vocabulary-coverage curves for
tokenizer sizing, PMI collocations, and per-class embedding centroids.

Determinism discipline matches the house rules: integer counts everywhere
possible, decimal-space sums for float aggregation (determinism.py), string
packing where a (hash, pos) argmin must cross the window boundary, and
int→double divisions only (single correctly-rounded IEEE ops, bit-identical
across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.bucketed import bucketed_order
from lambdatotheslaughter_spark.determinism import (
    broadcast_if_bounded, iround, ordered_fold, round_cents)
from lambdatotheslaughter_spark.functions.text import (
    SHINGLE2_SQL, SHINGLE3_SQL, md5_int60, md5_minhashes, shingles2,
    shingles3, tokens)
from lambdatotheslaughter_spark.operators.llm import (
    _BM25_B, _BM25_K1, _CLUSTER_ORACLE, _bm25_stats, _bm25_term_score,
    _cosine_spark, _cosine_sql, _id_sorted_cosines, _per_query_topk,
    _unit_rows, llm_dedup_cluster)
from lambdatotheslaughter_spark.operators.stats import (
    _CAL_BINS, _calibration_bins)
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table



def _source_num() -> Column:
    """The number after the 3-letter ``source`` prefix. The two-arg
    substring (to end of string) matches the oracles' SUBSTR(source, 4);
    a fixed-length slice would truncate a longer suffix on the Spark
    side only."""
    return F.expr("substring(source, 4)").cast("int")


def _source_tier() -> Column:
    """The model tier of a document's source: sources 0-3 large, 4-9
    medium, the rest small."""
    src_num = _source_num()
    return (F.when(src_num < 4, F.lit("large"))
            .when(src_num < 10, F.lit("medium"))
            .otherwise(F.lit("small")))

# ---------------------------------------------------------------------------
# survivor selection per near-dup cluster
# ---------------------------------------------------------------------------

_SURVIVOR_ORACLE = f"""
WITH clusters AS ({_CLUSTER_ORACLE})
SELECT c.doc_id, c.cluster_id,
       FIRST_VALUE(c.doc_id) OVER (
         PARTITION BY c.cluster_id
         ORDER BY d.n_chars DESC, c.doc_id) AS survivor_id,
       c.doc_id = FIRST_VALUE(c.doc_id) OVER (
         PARTITION BY c.cluster_id
         ORDER BY d.n_chars DESC, c.doc_id) AS is_survivor
FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
"""


@register("llm_dedup_survivorship", oracle=_SURVIVOR_ORACLE)
def llm_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the step that turns dedup CLUSTERS into a
    KEEP/DROP decision: per near-dup cluster keep exactly one canonical
    document (longest text, doc_id as the tie-break) and mark the rest
    for removal. Real pipelines pick by quality score; the policy is one
    `max_by` expression swap.

    Scale shape: the cluster table is LSH-survivor-sized (tiny vs the
    corpus), so the n_chars join hits documents once and the per-cluster
    argmax is a combinable max-of-struct aggregate — one small shuffle on
    cluster_id, then the survivor map joins back. The map has one row
    per CLUSTER, which grows with the duplicated share of the corpus,
    so its broadcast is estimate-gated like the other incremental-dedup
    joins (past ~1M docs AQE picks the strategy)."""
    clusters = llm_dedup_cluster(spark, sf_dir).select("doc_id", "cluster_id")
    nchars = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    # the decorated cluster table feeds both the per-cluster argmax
    # and the final survivor join — pin it so the documents join (and,
    # on the distributed CC path, the whole upstream cluster lineage)
    # runs once per query
    c = clusters.join(nchars, "doc_id").localCheckpoint(eager=False)
    # argmax by (n_chars, smallest doc_id): struct max with negated id
    surv = (c.groupBy("cluster_id")
            .agg(F.max(F.struct(F.col("n_chars"),
                                (-F.col("doc_id")).alias("neg_id")))
                 .alias("m"))
            .select("cluster_id", (-F.col("m.neg_id")).alias("survivor_id")))
    surv = broadcast_if_bounded(surv, sf_dir, "documents", 1_000_000)
    return (c.join(surv, "cluster_id")
            .select("doc_id", "cluster_id", "survivor_id",
                    (F.col("doc_id") == F.col("survivor_id"))
                    .alias("is_survivor")))


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------

_WINNOW_K = 4   # token k-gram length
_WINNOW_W = 4   # window of consecutive k-gram hashes

_KGRAM4_SQL = ("list_transform(range(1, len(string_split(text,' ')) - 2), "
               "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]"
               " || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])")

_WINNOW_ORACLE = f"""
WITH kg AS (
  SELECT doc_id,
         unnest({_KGRAM4_SQL}) AS g,
         unnest(range(1, len(string_split(text,' ')) - 2)) AS kpos
  FROM documents
  WHERE len(string_split(text, ' ')) >= {_WINNOW_K}
), hashed AS (
  SELECT doc_id, kpos,
         lpad(CAST(CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT)
                   AS VARCHAR), 19, '0')
           || ':' || lpad(CAST(kpos AS VARCHAR), 6, '0') AS hk
  FROM kg
), sel AS (
  SELECT DISTINCT doc_id,
         MIN(hk) OVER (PARTITION BY doc_id ORDER BY kpos
                       ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS s
  FROM hashed
  QUALIFY kpos >= {_WINNOW_W}
)
SELECT doc_id,
       CAST(substring(s, 1, 19) AS BIGINT) AS sel_hash,
       CAST(substring(s, 21, 6) AS INT) AS sel_pos
FROM sel
"""


@register("llm_fingerprint_winnow", oracle=_WINNOW_ORACLE)
def llm_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS scheme): hash every token 4-gram,
    slide a window of 4 consecutive k-gram hashes, and record the minimum
    (hash, position) of each window, deduped — guarantees any shared run
    of ≥ k+w-1 tokens between two documents shares at least one selected
    fingerprint, at ~1/w the density of llm_fingerprint's full shingle
    set. The (hash, pos) argmin crosses the window as ONE zero-padded
    string key so both engines pick the identical leftmost-minimum
    (a struct MIN over a frame is not portable SQL).

    Scale shape: per-document windows — partitioned by doc_id, never
    global; output density n_tokens/w per doc, the index a cross-corpus
    plagiarism/contamination audit joins on."""
    d = load_table(spark, "documents", sf_dir) \
        .where(F.size(tokens()) >= _WINNOW_K)
    toks = d.select("doc_id", tokens().alias("toks"))
    kgrams = toks.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.size("toks") - (_WINNOW_K - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at("toks", i + j)
                                         for j in range(_WINNOW_K)])))
        .alias("pos0", "g"))
    hashed = kgrams.select(
        "doc_id", (F.col("pos0") + 1).alias("kpos"),
        F.concat(F.lpad(md5_int60("g").cast("string"), 19, "0"),
                 F.lit(":"),
                 F.lpad((F.col("pos0") + 1).cast("string"), 6, "0"))
        .alias("hk"))
    w = Window.partitionBy("doc_id").orderBy("kpos") \
        .rowsBetween(-(_WINNOW_W - 1), 0)
    sel = (hashed.withColumn("s", F.min("hk").over(w))
           .where(F.col("kpos") >= _WINNOW_W)
           .select("doc_id", "s").distinct())
    return sel.select(
        "doc_id",
        F.substring("s", 1, 19).cast("bigint").alias("sel_hash"),
        F.substring("s", 21, 6).cast("int").alias("sel_pos"))


# ---------------------------------------------------------------------------
# inverted postings index
# ---------------------------------------------------------------------------

_POSTINGS_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
)
SELECT term,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(COUNT(*) AS BIGINT) AS tf,
       array_to_string(list_sort(list(DISTINCT doc_id))[1:8], ',')
         AS posting_head
FROM tok
GROUP BY term
"""


@register("llm_index_inverted_postings", oracle=_POSTINGS_ORACLE)
def llm_index_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build — the retrieval-side artifact (BM25 scoring in
    llm_bm25_rank assumes exactly this structure exists): per term, the
    document frequency, total term frequency, and the head of the sorted
    posting list (serialized to a string: array cells cross the
    Spark/DuckDB/pandas boundary unstably, driver-contract gotcha).

    Scale shape: one explode + one groupBy on term — the same map-side
    combinable shuffle as word count; posting heads bound the per-term
    payload so a stop-word's full posting list never materializes in one
    row (full lists would be written partitioned by term-range instead)."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(tokens()).alias("term"))
    return tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df"),
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.array_join(F.slice(F.sort_array(F.collect_set("doc_id")), 1, 8), ",")
        .alias("posting_head"))


# ---------------------------------------------------------------------------
# per-language n-gram top-k
# ---------------------------------------------------------------------------

_NGRAM_TOPK_K = 5

_NGRAM_TOPK_ORACLE = f"""
WITH bg AS (
  SELECT lang, unnest({SHINGLE2_SQL}) AS bigram FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), counted AS (
  SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM bg GROUP BY lang, bigram
)
SELECT lang, bigram, n_docs, rn FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY n_docs DESC, bigram) AS rn
  FROM counted
) WHERE rn <= {_NGRAM_TOPK_K}
"""


@register("llm_ngram_topk_per_lang", oracle=_NGRAM_TOPK_ORACLE)
def llm_ngram_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 bigrams by document frequency — the corpus
    profile a mixture-design review reads (which boilerplate dominates
    each language slice; a common first signal of template contamination).
    Distinct-per-doc bigrams (shingle semantics), so a single spammy doc
    can't dominate the table.

    Scale shape: explode + (lang, bigram) count-combine, then top-k per
    lang — the window partitions on lang, and the counted table is
    vocab-sized, orders smaller than the corpus."""
    d = load_table(spark, "documents", sf_dir).where(F.size(tokens()) >= 2)
    bg = (d.select("lang", tokens().alias("toks"))
          .select("lang", F.explode(shingles2("toks")).alias("bigram")))
    counted = bg.groupBy("lang", "bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = Window.partitionBy("lang").orderBy(F.col("n_docs").desc(), "bigram")
    return (counted.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _NGRAM_TOPK_K))


# ---------------------------------------------------------------------------
# vocabulary coverage curve
# ---------------------------------------------------------------------------

_COVERAGE_NS = (10, 100, 1000)

_COVERAGE_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
), freq AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t
), total AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq
)
{" UNION ALL ".join(f'''
SELECT {n} AS n_top,
       (SELECT CAST(SUM(c) AS BIGINT) FROM
         (SELECT c FROM freq ORDER BY c DESC, t LIMIT {n})) AS covered,
       (SELECT n FROM total) AS total_tokens,
       CAST((SELECT CAST(SUM(c) AS BIGINT) FROM
         (SELECT c FROM freq ORDER BY c DESC, t LIMIT {n})) AS DOUBLE)
         / CAST((SELECT n FROM total) AS DOUBLE) AS coverage
''' for n in _COVERAGE_NS)}
"""


@register("llm_vocab_coverage", oracle=_COVERAGE_ORACLE)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing question: what
    fraction of all token OCCURRENCES do the top-{10,100,1000} types
    cover? Exact integer counts; the single double division at the end is
    one correctly-rounded IEEE op, bit-identical across engines.

    Scale shape: per-N top-k via TakeOrdered (orderBy().limit(n) compiles
    to a partial per-partition top-k + driver merge of n rows — NO global
    sort and no unpartitioned window over the vocabulary), then a scalar
    sum; three tiny branches crossJoin the one-row total."""
    d = load_table(spark, "documents", sf_dir)
    freq = (d.select(F.explode(tokens()).alias("t"))
            .groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .localCheckpoint(eager=False))  # three branches + total share it
    total = freq.agg(F.sum("c").cast("bigint").alias("total_tokens"))
    branches = []
    for n in _COVERAGE_NS:
        top = (freq.orderBy(F.col("c").desc(), "t").limit(n)
               .agg(F.sum("c").cast("bigint").alias("covered"))
               .withColumn("n_top", F.lit(n)))
        branches.append(top.crossJoin(total))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.select(
        "n_top", "covered", "total_tokens",
        (F.col("covered").cast("double") /
         F.col("total_tokens").cast("double")).alias("coverage"))


# ---------------------------------------------------------------------------
# co-occurrence (PMI-ratio) collocations
# ---------------------------------------------------------------------------

_PMI_MIN_PAIR = 10

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), pair AS (
  SELECT unnest(list_transform(range(1, len(l)), i -> l[i])) AS w1,
         unnest(list_transform(range(1, len(l)), i -> l[i + 1])) AS w2
  FROM toks
), uni AS (
  SELECT unnest(l) AS t FROM toks
), cp AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM pair GROUP BY w1, w2
), cu AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY t
), nt AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM cu
)
SELECT cp.w1, cp.w2, cp.n_ab,
       a.c AS n_a, b.c AS n_b,
       (CAST(cp.n_ab AS DOUBLE) * CAST(nt.n AS DOUBLE))
         / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) AS pmi_ratio
FROM cp JOIN cu a ON cp.w1 = a.t JOIN cu b ON cp.w2 = b.t CROSS JOIN nt
WHERE cp.n_ab >= {_PMI_MIN_PAIR}
"""


@register("llm_cooccurrence_pmi", oracle=_PMI_ORACLE)
def llm_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token collocation strength — PMI in RATIO form,
    p(ab)/(p(a)·p(b)) = n_ab·N / (n_a·n_b), the embedding-era phrase
    detector (word2vec's phrase pass uses exactly this statistic). The
    ratio stays in exact integers until two multiplies and one divide in
    double — each a single correctly-rounded IEEE op with a fixed
    evaluation order, so no ln() portability risk (libm log differs
    across engines; the ratio orders pairs identically).

    Scale shape: two word-count shuffles (pairs, unigrams) + two joins of
    the pair table against the vocab table — both vocab-sized; the ≥10
    support filter bounds the output before any join."""
    d = load_table(spark, "documents", sf_dir).where(F.size(tokens()) >= 2)
    toks = d.select(tokens().alias("l")).localCheckpoint(eager=False)
    pair = toks.select(F.explode(F.transform(
        F.sequence(F.lit(1), F.size("l") - 1),
        lambda i: F.struct(F.element_at("l", i).alias("w1"),
                           F.element_at("l", i + 1).alias("w2")))).alias("p")) \
        .select("p.w1", "p.w2")
    uni = toks.select(F.explode("l").alias("t"))
    cp = (pair.groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
          .where(F.col("n_ab") >= _PMI_MIN_PAIR))
    cu = uni.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    nt = cu.agg(F.sum("c").cast("bigint").alias("n"))
    a = cu.select(F.col("t").alias("w1"), F.col("c").alias("n_a"))
    b = cu.select(F.col("t").alias("w2"), F.col("c").alias("n_b"))
    return (cp.join(a, "w1").join(b, "w2").crossJoin(nt)
            .select("w1", "w2", "n_ab", "n_a", "n_b",
                    ((F.col("n_ab").cast("double") * F.col("n").cast("double"))
                     / (F.col("n_a").cast("double") *
                        F.col("n_b").cast("double"))).alias("pmi_ratio")))


# ---------------------------------------------------------------------------
# per-label embedding centroids
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = """
WITH ev AS (
  SELECT label,
         unnest(embedding) AS val,
         unnest(range(len(embedding))) AS dim
  FROM embeddings
)
SELECT label, CAST(dim AS INT) AS dim,
       CAST(SUM(CAST(round(CAST(val AS DOUBLE) * 1000000, 0) AS BIGINT))
            AS DOUBLE)
         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS centroid,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM ev
GROUP BY label, dim
"""


@register("llm_embedding_centroids", oracle=_CENTROID_ORACLE)
def llm_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the class prototypes that seed
    semantic dedup, outlier scoring (llm_embedding_outliers consumes
    exactly this shape), and IVF coarse quantizers. Each float is scaled
    to an exact integer micro-unit BEFORE aggregation (round in double —
    a DECIMAL cast is NOT portable here: Spark truncates the float's
    exact binary expansion while DuckDB casts via its shortest decimal
    string, diverging in the 6th decimal), so the sum is an associative
    BIGINT sum and the centroid is bit-identical regardless of partition
    count or aggregation order — the same fixed-point discipline as the
    int8 quantizer and fixed-point PageRank.

    Scale shape: posexplode turns n vectors × 64 dims into a tall table,
    but the shuffle carries only the (label, dim) PARTIAL sums — 10×64
    groups regardless of corpus size; map-side combine does the rest."""
    e = load_table(spark, "embeddings", sf_dir)
    ev = e.select("label", F.posexplode("embedding").alias("dim", "val"))
    micro = iround(F.col("val").cast("double") * 1000000)
    return (ev.groupBy("label", "dim")
            .agg((F.sum(micro).cast("double") /
                  (F.count(F.lit(1)) * 1000000).cast("double"))
                 .alias("centroid"),
                 F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
            .select("label", F.col("dim").cast("int").alias("dim"),
                    "centroid", "n_vecs"))


# ---------------------------------------------------------------------------
# importance sampling + semantic dedup
# ---------------------------------------------------------------------------

_QUALITY_SCORE_SQL = """
  0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
  + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE))
  + 0.3 * least((CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0, 1.0)
"""

_IMPORTANCE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(floor(({_QUALITY_SCORE_SQL}) * 1000) AS BIGINT) AS permille
  FROM documents
)
SELECT doc_id, lang, permille FROM scored
WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
           AS BIGINT) % 1000 < permille
"""


@register("llm_sample_importance_weighted", oracle=_IMPORTANCE_ORACLE)
def llm_sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted sampling: each document's keep-probability IS
    its quality score (llm_quality_score's composite, scaled to permille)
    — the quality-weighted training-mix draw, upgrade of
    llm_sample_stratified's per-language constants. Membership is
    DETERMINISTIC (md5(doc_id) mod 1000 < permille), so re-runs and
    retried tasks select the same documents; the score arithmetic is
    pure IEEE double (identical in both engines — proven by
    llm_quality_score's hash match) and floor() is exact on doubles.

    Scale shape: a pure map-side filter — no shuffle, no state; the
    score and the hash both compute from the row itself."""
    d = load_table(spark, "documents", sf_dir)
    toks = tokens()
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    avg_len = (F.col("n_chars").cast("bigint") - (n_tokens - 1)).cast("double") \
        / n_tokens.cast("double")
    score = (0.4 * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
             + 0.3 * (n_distinct.cast("double") / n_tokens.cast("double"))
             + 0.3 * F.least(avg_len / 8.0, F.lit(1.0)))
    permille = F.floor(score * 1000).cast("bigint")
    bucket = md5_int60(F.col("doc_id").cast("string")) % 1000
    return (d.select("doc_id", "lang", permille.alias("permille"),
                     bucket.alias("b"))
            .where(F.col("b") < F.col("permille"))
            .select("doc_id", "lang", "permille"))


_SEMANTIC_ORACLE = f"""
WITH cells AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
         + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
         + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
         + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS cell
  FROM embeddings
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({{cos}}, 6) >= 0.95
)
SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
       d.vec_id IS NULL AS is_kept
FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


@register("llm_dedup_semantic",
          oracle=_SEMANTIC_ORACLE.format(
              cos=_cosine_sql("a.embedding", "b.embedding")))
def llm_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (the SemDeDup shape): embeddings are coarsely
    quantized into sign-pattern cells (first 4 dims → 16 cells — a
    deterministic, SQL-expressible stand-in for the k-means coarse
    quantizer; same cell ⇒ same orthant, where near-identical vectors
    must land), and within each cell any vector whose cosine to a
    LOWER-id cellmate is ≥ 0.95 is dropped. Threshold membership
    compares the 6-dp-ROUNDED cosine in both engines (the knn-family
    discipline): float64 dot products agree across summation orders to
    ~1e-13, so the rounded threshold cannot flake on an ulp, while the
    engine side runs each cell's pair matrix as ONE numpy GEMM inside
    applyInPandas (the per-pair interpreted fold form measured 3.5 s at
    sf0.1; the GEMM form ~0.6 s).

    Half-rounding-mode caveat: numpy rounds
    half-to-even, DuckDB round() half-away-from-zero, so a cosine
    landing EXACTLY on a 5e-7 decimal midpoint would round apart — and
    because the rounded value gates ROW-SET MEMBERSHIP here (>= 0.95),
    a midpoint hit would flip a row, not just a printed value.
    Measure-zero for real-valued cosines (a dot/norm ratio lands on an
    exact decimal midpoint with probability ~0; all knn-family keys
    hash-MATCH at sf0.01 and sf0.1), but any FUTURE threshold for this
    family should be chosen off representable decimal midpoints.

    Scale shape: the cell id is the partition key — the quadratic
    within-cell comparison is bounded per cell (more sign bits ⇒ smaller
    cells; production uses the IVF centroids from llm_sim_ann_ivf), and
    cells compare independently, embarrassingly parallel. The output
    keeps every vector with its keep/drop verdict — the downstream
    filter is one `where(is_kept)`."""
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cell = sum(
        F.when(F.element_at("embedding", k + 1) >= 0, 1 << k).otherwise(0)
        for k in range(4))
    cells = e.select("vec_id", "embedding", cell.alias("cell")) \
        .localCheckpoint(eager=False)  # pair scan + final join share it

    def dropped_in_cell(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
        ids, sims = _id_sorted_cosines(pdf)
        # column j is dropped iff ANY lower-id row i<j has sims >= 0.95
        hit = (np.triu(np.round(sims, 6), k=1) >= 0.95).any(axis=0)
        return pd.DataFrame({"vec_id": ids[hit]})

    dropped = (cells.select("vec_id", "embedding", "cell")
               .groupBy("cell")
               .applyInPandas(dropped_in_cell, "vec_id bigint"))
    return (cells.join(dropped.withColumn("hit", F.lit(1)), "vec_id", "left")
            .select("vec_id", F.col("cell").cast("int").alias("cell"),
                    F.col("hit").isNull().alias("is_kept")))


# ---------------------------------------------------------------------------
# template / boilerplate detection
# ---------------------------------------------------------------------------

_TEMPLATE_DF_MIN = 20

_TEMPLATE_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({{sh3}}) AS s FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), df AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s
)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(*) FILTER (WHERE df.df >= {_TEMPLATE_DF_MIN}) AS BIGINT)
         AS n_boiler,
       CAST(COUNT(*) FILTER (WHERE df.df >= {_TEMPLATE_DF_MIN}) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS boiler_share,
       2 * COUNT(*) FILTER (WHERE df.df >= {_TEMPLATE_DF_MIN}) >= COUNT(*)
         AS is_template
FROM sh JOIN df ON sh.s = df.s
GROUP BY sh.doc_id
"""


@register("llm_prompt_template_detect",
          oracle=_TEMPLATE_ORACLE.format(sh3=SHINGLE3_SQL))
def llm_prompt_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection: the share of a document's distinct
    3-gram shingles that are CORPUS-COMMON (document frequency ≥ 20) —
    the signal that separates templated pages (cookie banners, forum
    scaffolding, generated listings) from organic text before any
    near-dup machinery runs. `is_template` uses the integer
    cross-multiplied form (2·boiler ≥ total) so the verdict cannot flake
    on a float ulp; the reported share is one int→double division.

    Scale shape: shingle explode + one df groupBy, then the df table
    joins back — the dictionary-join shape BM25 uses, but a 3-gram
    SHINGLE dictionary grows much faster than a token vocabulary, so the
    broadcast is estimate-gated (past ~1M docs AQE plans a shuffle
    join); the per-doc aggregate is map-side combinable."""
    d = load_table(spark, "documents", sf_dir).where(F.size(tokens()) >= 3)
    sh = (d.select("doc_id", tokens().alias("toks"))
          .select("doc_id", F.explode(shingles3("toks")).alias("s"))
          .localCheckpoint(eager=False))  # df build + join-back share it
    df_tab = sh.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    df_tab = broadcast_if_bounded(df_tab, sf_dir, "documents", 1_000_000)
    boiler = (F.col("df") >= _TEMPLATE_DF_MIN).cast("long")
    return (sh.join(df_tab, "s")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                 F.sum(boiler).cast("bigint").alias("n_boiler"))
            .select("doc_id", "n_shingles", "n_boiler",
                    (F.col("n_boiler").cast("double")
                     / F.col("n_shingles").cast("double"))
                    .alias("boiler_share"),
                    (2 * F.col("n_boiler") >= F.col("n_shingles"))
                    .alias("is_template")))


# ---------------------------------------------------------------------------
# training-order shuffle, epoch up-sampling, dim stats
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = 42
_SHUFFLE_SHARDS = 8

_SHUFFLE_ORACLE = f"""
WITH k AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SEED}') AS skey
  FROM documents
)
SELECT doc_id, skey,
       CAST(ROW_NUMBER() OVER (ORDER BY skey) AS BIGINT) AS pos,
       CAST((ROW_NUMBER() OVER (ORDER BY skey) - 1) % {_SHUFFLE_SHARDS}
            AS BIGINT) AS shard
FROM k
"""


@register("llm_shuffle_deterministic", oracle=_SHUFFLE_ORACLE)
def llm_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic training-order shuffle: every document gets a
    GLOBAL position in a pseudo-random order (md5 of doc_id + seed) plus
    a round-robin shard assignment — the "shuffle the corpus, split it
    across data-loader workers" step every training run needs, made
    reproducible (same seed ⇒ same order on any cluster, any partition
    count).

    Scale shape: a naive ROW_NUMBER() OVER (ORDER BY key) collapses the
    corpus onto ONE task. Instead the rank is computed in two scalable
    passes: (1) row_number within each of 256 hash-prefix buckets — a
    bucket-bounded window; (2) bucket counts (256 rows) turn into prefix
    offsets via a broadcast self-join, added back with a broadcast join.
    No global sort, no single-partition window, one shuffle by bucket —
    the standard distributed zipWithIndex."""
    d = load_table(spark, "documents", sf_dir).select("doc_id")
    keyed = d.select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit(f":{_SHUFFLE_SEED}"))).alias("skey"))
    keyed = keyed.withColumn("b", F.substring("skey", 1, 2))
    cnt = keyed.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    # 256-row prefix sum as a broadcast self-join (no global window)
    off = (cnt.alias("x")
           .join(F.broadcast(cnt.alias("y")), F.col("y.b") < F.col("x.b"),
                 "left")
           .groupBy(F.col("x.b").alias("b"))
           .agg(F.coalesce(F.sum("y.c"), F.lit(0)).alias("off")))
    rn = F.row_number().over(Window.partitionBy("b").orderBy("skey"))
    pos = (F.col("off") + rn).cast("bigint")
    return (keyed.join(F.broadcast(off), "b")
            .select("doc_id", "skey", pos.alias("pos"),
                    ((pos - 1) % _SHUFFLE_SHARDS).cast("bigint")
                    .alias("shard")))


_MIX_ORACLE = """
WITH w AS (
  SELECT doc_id, source,
         CASE WHEN CAST(SUBSTR(source, 4) AS INTEGER) < 4 THEN 3
              WHEN CAST(SUBSTR(source, 4) AS INTEGER) < 10 THEN 2
              ELSE 1 END AS weight
  FROM documents
)
SELECT doc_id, source, CAST(weight AS INT) AS weight,
       CAST(e AS BIGINT) AS epoch
FROM (SELECT doc_id, source, weight,
             unnest(range(1, weight + 1)) AS e
      FROM w) t
"""


@register("llm_mix_epoch_upsample", oracle=_MIX_ORACLE)
def llm_mix_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix epoch up-sampling: high-quality sources are repeated
    for several training epochs (weight 3), mid-tier twice, the long
    tail once — the standard way a 100-TB corpus realizes a target
    domain mixture without physically copying bytes (each repeat is one
    extra row carrying doc_id + epoch index; the text itself is joined
    in by the pack/loader stage). Weights derive from the source id so
    the policy is a pure map-side expression.

    Scale shape: explode(sequence(1, w)) is a narrow 1→w flatMap — no
    shuffle at all; output size is exactly sum(w), the epoch-weighted
    token budget, and downstream repartitioning is the loader's choice."""
    src_num = _source_num()
    w = (F.when(src_num < 4, 3).when(src_num < 10, 2).otherwise(1)
         .cast("int"))
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", w.alias("weight"))
    return (d.select("doc_id", "source", "weight",
                     F.explode(F.sequence(F.lit(1), F.col("weight")))
                     .alias("e"))
            .select("doc_id", "source", "weight",
                    F.col("e").cast("bigint").alias("epoch")))


_DIM_STATS_ORACLE = """
WITH ev AS (
  SELECT unnest(range(len(embedding))) AS dim,
         unnest(embedding) AS val
  FROM embeddings
), fp AS (
  SELECT dim,
         CAST(round(CAST(val AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
  FROM ev
)
SELECT CAST(dim AS INT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE)
         AS mean_val,
       CAST(MIN(v) AS BIGINT) AS min_fp,
       CAST(MAX(v) AS BIGINT) AS max_fp,
       CAST(COUNT(*) FILTER (WHERE v > 0) AS BIGINT) AS n_pos
FROM fp GROUP BY dim
"""


@register("llm_embedding_dim_stats", oracle=_DIM_STATS_ORACLE)
def llm_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean / min / max / sign
    balance) — the feature-scaling profile read before normalization,
    quantizer calibration (llm_embed_quantize_int8 needs exactly these
    min/max ranges), and dead-dimension detection. Means use the proven
    micro-unit fixed-point discipline (float → double → round → BIGINT,
    associative sum); min/max of the fixed-point values are exact by
    construction.

    Scale shape: posexplode fans n vectors into n·64 rows, but the
    shuffle carries only 64 partial-aggregate groups — map-side combine
    reduces everything; identical to llm_embedding_centroids' shape
    with a corpus-wide grain."""
    e = load_table(spark, "embeddings", sf_dir)
    ev = e.select(F.posexplode("embedding").alias("dim", "val"))
    v = iround(F.col("val").cast("double") * 1000000)
    return (ev.select("dim", v.alias("v"))
            .groupBy("dim")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 (F.sum("v").cast("double")
                  / (F.count(F.lit(1)) * 1000000).cast("double"))
                 .alias("mean_val"),
                 F.min("v").cast("bigint").alias("min_fp"),
                 F.max("v").cast("bigint").alias("max_fp"),
                 F.sum((F.col("v") > 0).cast("long")).cast("bigint")
                 .alias("n_pos"))
            .select(F.col("dim").cast("int").alias("dim"), "n", "mean_val",
                    "min_fp", "max_fp", "n_pos"))


# ---------------------------------------------------------------------------
# blocklist filter + fixed-k hash sample
# ---------------------------------------------------------------------------

_BLOCKLIST = ("slow", "dup", "big")

_BLOCKLIST_ORACLE = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN {_BLOCKLIST!r})) AS BIGINT) AS n_hits,
       COALESCE(array_to_string(
         list_sort(list_intersect(list_distinct(string_split(text, ' ')),
                                  {list(_BLOCKLIST)!r})), ','), '')
         AS matched,
       len(list_filter(string_split(text, ' '),
                       t -> t IN {_BLOCKLIST!r})) > 0 AS is_blocked
FROM documents
"""


@register("llm_filter_blocklist", oracle=_BLOCKLIST_ORACLE)
def llm_filter_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering (the C4 badwords gate): per document, the
    occurrence count of blocklisted tokens, the sorted distinct set of
    matched rules (the audit trail a curation pipeline must emit — WHY
    was this doc dropped), and the boolean verdict. Matched rules are
    sorted and comma-joined on BOTH engines: intersection order is
    engine-specific, and a string cell hash-compares identically under
    every pandas conversion path (Arrow returns ndarray, non-Arrow
    returns list).

    Scale shape: pure map-side higher-order functions over the token
    array — zero shuffles, no UDF; the rule set rides inside the plan
    as a literal (a large production list would broadcast a lookup
    table into an array_intersect or join on exploded tokens)."""
    d = load_table(spark, "documents", sf_dir)
    toks = tokens()
    hits = F.filter(toks, lambda t: t.isin(*_BLOCKLIST))
    matched = F.concat_ws(",", F.array_sort(
        F.array_intersect(F.array_distinct(toks),
                          F.array([F.lit(x) for x in _BLOCKLIST]))))
    return d.select(
        "doc_id",
        F.size(hits).cast("bigint").alias("n_hits"),
        matched.alias("matched"),
        (F.size(hits) > 0).alias("is_blocked"))


_SAMPLE_K = 100

_FIXED_K_ORACLE = f"""
SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':sample') AS skey
FROM documents
ORDER BY skey
LIMIT {_SAMPLE_K}
"""


@register("llm_sample_fixed_k", oracle=_FIXED_K_ORACLE)
def llm_sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample: exactly k documents, chosen as the
    bottom-k by a seeded hash — the distributed equivalent of reservoir
    sampling (every doc equally likely under the random-oracle hash),
    but deterministic and mergeable: bottom-k of a union is the
    bottom-k of the per-partition bottom-k's, which is why it compiles
    to TakeOrderedAndProject (per-partition top-k + a k-row driver
    merge) instead of a global sort.

    Scale shape: one narrow pass, k rows cross the wire per partition;
    contrast llm_sample_stratified (fraction-based, unbounded output)
    and llm_sample_importance_weighted (probability-proportional)."""
    d = load_table(spark, "documents", sf_dir)
    keyed = d.select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":sample")))
        .alias("skey"))
    return keyed.orderBy("skey").limit(_SAMPLE_K)


# ---------------------------------------------------------------------------
# fixed-k per-stratum sampling
# ---------------------------------------------------------------------------

_K_PER_GROUP = 20

_FIXED_K_GROUP_ORACLE = f"""
SELECT lang, doc_id, skey
FROM (
  SELECT lang, doc_id,
         md5(CAST(doc_id AS VARCHAR) || ':kpg') AS skey,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR) || ':kpg'))
           AS rn
  FROM documents
) t
WHERE rn <= {_K_PER_GROUP}
"""


@register("llm_sample_fixed_k_per_group", oracle=_FIXED_K_GROUP_ORACLE)
def llm_sample_fixed_k_per_group(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Exactly k documents PER LANGUAGE by seeded-hash order — the
    per-stratum companion of llm_sample_fixed_k (global bottom-k) and
    llm_sample_stratified (fraction-per-stratum, unbounded counts):
    the shape used to build balanced eval sets from skewed corpora.
    md5 keys are collision-free on doc ids, so the per-group order is a
    total order and both engines pick the identical k.

    Scale shape: rank-k within groups is the windowed row_number — one
    shuffle on lang; Spark's WindowGroupLimit pushes the k-cutoff into
    the sort (partial top-k per task) rather than ranking every row,
    the per-group analogue of TakeOrdered's per-partition heads."""
    d = load_table(spark, "documents", sf_dir)
    keyed = d.select(
        "lang", "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":kpg")))
        .alias("skey"))
    w = Window.partitionBy("lang").orderBy("skey")
    return (keyed.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _K_PER_GROUP)
            .select("lang", "doc_id", "skey"))


# ---------------------------------------------------------------------------
# n-gram recall vs an eval set (contamination measurement)
# ---------------------------------------------------------------------------

_EVAL_MOD = 50
_RECALL_MIN_COMMON = 2

_EVAL_RECALL_ORACLE = f"""
WITH ev AS (
  SELECT doc_id AS eval_id, {SHINGLE3_SQL} AS s FROM documents
  WHERE doc_id % {_EVAL_MOD} = 0 AND len(string_split(text, ' ')) >= 3
), co AS (
  SELECT doc_id, {SHINGLE3_SQL} AS s FROM documents
  WHERE doc_id % {_EVAL_MOD} <> 0 AND len(string_split(text, ' ')) >= 3
)
SELECT e.eval_id, c.doc_id,
       CAST(len(list_intersect(e.s, c.s)) AS BIGINT) AS n_common,
       CAST(len(e.s) AS BIGINT) AS n_eval_grams,
       CAST(len(list_intersect(e.s, c.s)) AS DOUBLE)
         / CAST(len(e.s) AS DOUBLE) AS recall
FROM ev e, co c
WHERE len(list_intersect(e.s, c.s)) >= {_RECALL_MIN_COMMON}
"""


@register("llm_eval_ngram_recall", oracle=_EVAL_RECALL_ORACLE)
def llm_eval_ngram_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-style 3-gram RECALL of every eval-set document against every
    training candidate that shares ≥ _RECALL_MIN_COMMON (2) shingles —
    the quantitative form
    of llm_contamination_ngram (which only flags): recall ≈ 1 means the
    eval item is effectively inside the training corpus. The oracle
    brute-forces eval × corpus; the Spark side goes through the
    inverted shingle index, so only docs that actually share a shingle
    ever meet — the same candidates-then-verify discipline as the dedup
    family, with the eval set (tiny by construction) as the broadcast
    side.

    Scale shape: corpus side explodes to (shingle, doc) once; the join
    key is the shingle string; per-pair counts are combinable. A
    benchmark-frequency hot shingle caps out at |eval| pairs per
    occurrence — bounded by the eval set, not the corpus."""
    # Two performance rules meet here (measured 6.8 s → ~1 s at sf0.1):
    # (1) materialize the token array before shingling — shingles3 over
    # the raw split() re-tokenizes per element (functions/text.py);
    # (2) keep the explode INLINE over that materialized column — putting
    # shingles3 in its own projected column first lets Catalyst's
    # InferFiltersFromGenerate push a size(·)>0 guard below the project,
    # where substitution re-expands the whole transform over raw split()
    # per input row (the trap the localCheckpoint barriers in llm.py
    # also exist to block).
    d = (load_table(spark, "documents", sf_dir)
         .select("doc_id", tokens().alias("toks"))
         .where(F.size("toks") >= 3))
    ev_grams = (d.where(F.col("doc_id") % _EVAL_MOD == 0)
                .select(F.col("doc_id").alias("eval_id"),
                        F.explode(shingles3("toks")).alias("g")))
    # shingles are distinct per doc, so |shingle set| == exploded count
    ev_n = ev_grams.groupBy("eval_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_grams"))
    co_grams = (d.where(F.col("doc_id") % _EVAL_MOD != 0)
                .select("doc_id", F.explode(shingles3("toks")).alias("g")))
    hits = (co_grams.join(F.broadcast(ev_grams), "g")
            .groupBy("eval_id", "doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
            .where(F.col("n_common") >= _RECALL_MIN_COMMON))
    return (hits.join(F.broadcast(ev_n), "eval_id")
            .select("eval_id", "doc_id", "n_common", "n_eval_grams",
                    (F.col("n_common").cast("double")
                     / F.col("n_eval_grams").cast("double")).alias("recall")))


# ---------------------------------------------------------------------------
# bag-of-words (word-order-invariant) dedup
# ---------------------------------------------------------------------------

_BAG_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
           AS bag_fp
  FROM documents
), grp AS (
  SELECT doc_id, bag_fp,
         MIN(doc_id) OVER (PARTITION BY bag_fp) AS canonical_id,
         COUNT(*) OVER (PARTITION BY bag_fp) AS n_bag_dups
  FROM fp
)
SELECT doc_id, bag_fp, CAST(canonical_id AS BIGINT) AS canonical_id,
       CAST(n_bag_dups AS BIGINT) AS n_bag_dups,
       doc_id = canonical_id AS is_canonical
FROM grp
"""


@register("llm_dedup_bag_of_words", oracle=_BAG_ORACLE)
def llm_dedup_bag_of_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-order-invariant exact dedup: the key is the SORTED token
    multiset, so shuffled/reordered copies — which llm_dedup_exact's
    raw-text hash misses and MinHash only catches probabilistically —
    collapse to one canonical doc deterministically. This is the
    standard cheap middle rung between exact and fuzzy dedup for
    template-permuted spam.

    Scale shape: per-row sort of an in-memory token array (no shuffle),
    then one hash-keyed window over the 16-byte fingerprint — same
    physical shape as llm_dedup_exact, fingerprint-sized exchange."""
    d = load_table(spark, "documents", sf_dir)
    fp = d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(tokens()))).alias("bag_fp"))
    w = Window.partitionBy("bag_fp")
    return (fp.select(
        "doc_id", "bag_fp",
        F.min("doc_id").over(w).cast("bigint").alias("canonical_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_bag_dups"))
        .select("doc_id", "bag_fp", "canonical_id", "n_bag_dups",
                (F.col("doc_id") == F.col("canonical_id"))
                .alias("is_canonical")))


# ---------------------------------------------------------------------------
# reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOP = 10

_RRF_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS r_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_tokens DESC, doc_id) AS r_tokens
  FROM scored
), fused AS (
  SELECT doc_id, lang, r_chars, r_tokens,
         1.0 / ({_RRF_K} + r_chars) + 1.0 / ({_RRF_K} + r_tokens) AS rrf
  FROM ranked
)
SELECT lang, doc_id, CAST(r_chars AS BIGINT) AS r_chars,
       CAST(r_tokens AS BIGINT) AS r_tokens, rrf
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY rrf DESC, doc_id) AS rn
      FROM fused) t
WHERE rn <= {_RRF_TOP}
"""


@register("llm_rank_fusion_rrf", oracle=_RRF_ORACLE)
def llm_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, k=60) of two per-language document
    rankings — the standard way hybrid retrieval merges lexical (BM25)
    and dense (cosine) result lists without score calibration: only the
    RANKS enter, fused as Σ 1/(k+r). The two signals here (char-length
    and token-count order, deterministically tie-broken) stand in for
    any two rankers; swapping in llm_bm25_rank / llm_sim_knn_per_query
    outputs changes one select. The fused score is a sum of two
    correctly-rounded IEEE divisions evaluated in the same order in
    both engines — bit-identical, so even the double can be hashed.

    Scale shape: two window ranks + the fusion select share ONE
    exchange on lang (Spark reuses the partitioning); the final top-10
    is a WindowGroupLimit, not a global sort."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars", F.size(tokens()).alias("n_tokens"))
    w_chars = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), "doc_id")
    w_tokens = Window.partitionBy("lang").orderBy(
        F.col("n_tokens").desc(), "doc_id")
    ranked = d.select(
        "doc_id", "lang",
        F.row_number().over(w_chars).alias("r_chars"),
        F.row_number().over(w_tokens).alias("r_tokens"))
    fused = ranked.withColumn(
        "rrf", F.lit(1.0) / (_RRF_K + F.col("r_chars"))
        + F.lit(1.0) / (_RRF_K + F.col("r_tokens")))
    w_f = Window.partitionBy("lang").orderBy(F.col("rrf").desc(), "doc_id")
    return (fused.withColumn("rn", F.row_number().over(w_f))
            .where(F.col("rn") <= _RRF_TOP)
            .select("lang", "doc_id",
                    F.col("r_chars").cast("bigint").alias("r_chars"),
                    F.col("r_tokens").cast("bigint").alias("r_tokens"),
                    "rrf"))


# ---------------------------------------------------------------------------
# corpus dashboard report over grouping sets
# ---------------------------------------------------------------------------

_CORPUS_REPORT_ORACLE = """
SELECT COALESCE(source, '<all>') AS source,
       COALESCE(lang, '<all>') AS lang,
       CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS mean_chars,
       CAST(count_if(n_chars < 200) AS BIGINT) AS n_short
FROM documents
GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
"""


@register("llm_corpus_report", oracle=_CORPUS_REPORT_ORACLE)
def llm_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus dashboard: docs / token volume / mean length / short-doc
    count at FOUR grains in one pass — (source × lang), per-source,
    per-lang, and grand total via GROUPING SETS, the report a data-mix
    owner refreshes after every pipeline run. grouping_id distinguishes
    a real 'NULL-valued group' from a rollup row; COALESCE labels keep
    the output schema flat strings.

    Scale shape: one Expand (4 grouping sets) + ONE combinable hash
    aggregate — identical physical shape to agg_grouping_sets, over the
    documents corpus; integer token counts, int/int → double mean."""
    d = load_table(spark, "documents", sf_dir).select(
        "source", "lang", "n_chars", F.size(tokens()).alias("n_tokens"))
    g = (d.groupingSets([["source", "lang"], ["source"], ["lang"], []],
                        "source", "lang")
         .agg(F.grouping_id().cast("bigint").alias("gid"),
              F.count(F.lit(1)).cast("bigint").alias("n_docs"),
              F.sum("n_tokens").cast("bigint").alias("total_tokens"),
              (F.sum("n_chars").cast("double")
               / F.count(F.lit(1)).cast("double")).alias("mean_chars"),
              F.count_if(F.col("n_chars") < 200).cast("bigint")
              .alias("n_short")))
    return g.select(
        F.coalesce("source", F.lit("<all>")).alias("source"),
        F.coalesce("lang", F.lit("<all>")).alias("lang"),
        "gid", "n_docs", "total_tokens", "mean_chars", "n_short")


# ---------------------------------------------------------------------------
# chat-template rendering
# ---------------------------------------------------------------------------

_CHAT_ORACLE = """
WITH r AS (
  SELECT doc_id,
         '<|system|>' || chr(10) ||
         'You are a careful assistant. Answer in ' || lang || '.' ||
         chr(10) || '<|user|>' || chr(10) ||
         'Summarize the following document from ' || source || ':' ||
         chr(10) || text || chr(10) || '<|assistant|>' || chr(10)
           AS rendered
  FROM documents
)
SELECT doc_id, md5(rendered) AS render_fp,
       CAST(length(rendered) AS BIGINT) AS n_chars_rendered,
       CAST(len(string_split(rendered, ' ')) AS BIGINT) AS n_tokens_ws
FROM r
"""


@register("llm_format_chat_template", oracle=_CHAT_ORACLE)
def llm_format_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT prompt rendering: every document becomes a chat-format training
    string (system / user / assistant markers, metadata interpolated into
    the instruction) — the step between a curated corpus and a
    supervised-fine-tuning dataset. Output is fingerprinted (md5 + char
    and whitespace-token counts) rather than shipped raw, the budget
    numbers a packing stage consumes.

    Scale shape: pure map-side string concat — zero shuffle, scan-rate
    bound; the template is a column expression, so swapping ChatML /
    Llama / custom markers is a one-line change."""
    d = load_table(spark, "documents", sf_dir)
    nl = F.lit("\n")
    rendered = F.concat(
        F.lit("<|system|>"), nl,
        F.lit("You are a careful assistant. Answer in "), F.col("lang"),
        F.lit("."), nl, F.lit("<|user|>"), nl,
        F.lit("Summarize the following document from "), F.col("source"),
        F.lit(":"), nl, F.col("text"), nl, F.lit("<|assistant|>"), nl)
    return d.select(
        "doc_id", F.md5(rendered).alias("render_fp"),
        F.length(rendered).cast("bigint").alias("n_chars_rendered"),
        F.size(F.split(rendered, " ")).cast("bigint").alias("n_tokens_ws"))


# ---------------------------------------------------------------------------
# DPO preference-pair construction
# ---------------------------------------------------------------------------

_DPO_PAIRS = 5

_DPO_ORACLE = f"""
WITH q AS (
  SELECT doc_id, source,
         CAST(n_chars AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS quality
  FROM documents
), ranked AS (
  SELECT doc_id, source, quality,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id) AS r_top,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality ASC, doc_id DESC) AS r_bot
  FROM q
)
SELECT t.source, CAST(t.r_top AS BIGINT) AS pair_no,
       t.doc_id AS chosen_id, b.doc_id AS rejected_id,
       t.quality - b.quality AS margin
FROM ranked t
JOIN ranked b ON t.source = b.source AND t.r_top = b.r_bot
WHERE t.r_top <= {_DPO_PAIRS} AND t.doc_id <> b.doc_id
  AND t.quality > b.quality
"""


@register("llm_dpo_pair_builder", oracle=_DPO_ORACLE)
def llm_dpo_pair_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (DPO/RLHF data prep): per source,
    pair the i-th BEST document with the i-th WORST (i ≤ 5) under a
    quality score, emitting (chosen, rejected, margin) — the standard
    extremes-pairing that maximizes preference margin per pair. The
    score here is mean token length (chars/tokens, an int/int double —
    portable); production swaps in the model-based score, same plan.
    Guards: a doc can't be paired with itself (odd group sizes meet in
    the middle) and zero-margin pairs are dropped (no learning signal).

    Scale shape: both rankings share one exchange on source; the join
    is (source, rank)-keyed on two k-row-per-source sides."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source",
        (F.col("n_chars").cast("double")
         / F.size(tokens()).cast("double")).alias("quality"))
    w_top = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), "doc_id")
    w_bot = Window.partitionBy("source").orderBy(
        F.col("quality").asc(), F.col("doc_id").desc())
    ranked = d.select(
        "doc_id", "source", "quality",
        F.row_number().over(w_top).alias("r_top"),
        F.row_number().over(w_bot).alias("r_bot"))
    top = (ranked.where(F.col("r_top") <= _DPO_PAIRS)
           .select("source", F.col("r_top").alias("pair_no"),
                   F.col("doc_id").alias("chosen_id"),
                   F.col("quality").alias("q_c")))
    bot = ranked.select("source", F.col("r_bot").alias("pair_no"),
                        F.col("doc_id").alias("rejected_id"),
                        F.col("quality").alias("q_r"))
    return (top.join(bot, ["source", "pair_no"])
            .where((F.col("chosen_id") != F.col("rejected_id"))
                   & (F.col("q_c") > F.col("q_r")))
            .select("source", F.col("pair_no").cast("bigint").alias("pair_no"),
                    "chosen_id", "rejected_id",
                    (F.col("q_c") - F.col("q_r")).alias("margin")))


# ---------------------------------------------------------------------------
# n-gram novelty vs the earlier corpus
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({SHINGLE3_SQL}) AS g FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), firsts AS (
  SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(count_if(f.first_doc = s.doc_id) AS BIGINT) AS n_novel,
       CAST(count_if(f.first_doc = s.doc_id) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM sh s JOIN firsts f ON s.g = f.g
GROUP BY s.doc_id
"""


@register("llm_ngram_novelty", oracle=_NOVELTY_ORACLE)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against everything ingested before it
    (ingestion order = doc_id): the share of a doc's 3-gram shingles
    whose FIRST corpus occurrence is this doc. Low novelty ⇒ boilerplate
    / near-dup / template mass even when no single pair crosses a dedup
    threshold — the curation signal that catches diffuse duplication.

    Scale shape: one shingle→min(doc_id) combinable aggregate (the
    'first seen' index, reusable across runs as an incremental-ingest
    artifact), joined back to the exploded shingles on the shingle key;
    per-doc counts are combinable. Inline explode over the materialized
    token column (the InferFiltersFromGenerate lesson)."""
    d = (load_table(spark, "documents", sf_dir)
         .select("doc_id", tokens().alias("toks"))
         .where(F.size("toks") >= 3))
    sh = d.select("doc_id", F.explode(shingles3("toks")).alias("g")) \
        .localCheckpoint(eager=False)   # firsts + join both read it
    firsts = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    j = sh.join(firsts, "g")
    return (j.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                 F.count_if(F.col("first_doc") == F.col("doc_id"))
                 .cast("bigint").alias("n_novel"))
            .select("doc_id", "n_grams", "n_novel",
                    (F.col("n_novel").cast("double")
                     / F.col("n_grams").cast("double")).alias("novelty")))


# ---------------------------------------------------------------------------
# stylometric source fingerprints
# ---------------------------------------------------------------------------

# pinned profile vocabulary: frequency of these eight common corpus words
# is the 8-dim style vector (function-word profiling — the classic
# stylometry trick; the exact list only needs to be FIXED, not optimal)
_STYLE_VOCAB = ("table", "value", "row", "scan", "hash", "key", "fast",
                "part")

_STYLE_VEC_SQL = "[" + ", ".join(
    f"CAST(len(list_filter(string_split(text, ' '), t -> t = '{w}')) AS DOUBLE)"
    for w in _STYLE_VOCAB) + "]"

_STYLE_ORACLE = f"""
WITH prof AS (
  SELECT source,
         list_transform(range(1, {len(_STYLE_VOCAB) + 1}),
                        i -> list_sum(list_transform(vecs, v -> v[i])))
           AS vec
  FROM (SELECT source, list({_STYLE_VEC_SQL}) AS vecs
        FROM documents GROUP BY source)
)
SELECT a.source AS source_a, b.source AS source_b,
       round(list_reduce(list_transform(range(1, {len(_STYLE_VOCAB) + 1}),
                                        i -> a.vec[i] * b.vec[i]),
                         (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, {len(_STYLE_VOCAB) + 1}),
                                                i -> a.vec[i] * a.vec[i]),
                                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, {len(_STYLE_VOCAB) + 1}),
                                                  i -> b.vec[i] * b.vec[i]),
                                   (x, y) -> x + y))), 12) AS style_cosine
FROM prof a JOIN prof b ON a.source < b.source
"""


@register("llm_style_fingerprint", oracle=_STYLE_ORACLE)
def llm_style_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stylometric source similarity: each source's function-word
    frequency profile over a PINNED 8-word vocabulary, compared pairwise
    by cosine — the classic authorship/provenance fingerprint that flags
    two 'different' crawls as the same generator (mirror detection,
    synthetic-text provenance). Counts are exact integers; each profile
    dot product is a fixed-order fold of count products (exact in
    double), so even the cosine hash-matches at 12 dp.

    Scale shape: one corpus pass building per-source count vectors
    (combinable — an 8-long array sum per source), then an O(S²)
    pairwise join over the handful of sources: the quadratic stage is
    source-count-bounded, never corpus-bounded."""
    d = load_table(spark, "documents", sf_dir) \
        .select("source", tokens().alias("toks"))
    def count_word(w: str):
        # closure (not a default arg): a 2-parameter lambda would make
        # PySpark pass the ELEMENT INDEX as the second argument
        return F.sum(F.size(F.filter(F.col("toks"),
                                     lambda t: t == F.lit(w))))

    counts = [count_word(w).cast("double").alias(f"c{i}")
              for i, w in enumerate(_STYLE_VOCAB)]
    prof = (d.groupBy("source").agg(*counts)
            .select("source", F.array(*[F.col(f"c{i}")
                                        for i in range(len(_STYLE_VOCAB))])
                    .alias("vec")))
    a = prof.select(F.col("source").alias("source_a"),
                    F.col("vec").alias("va"))
    b = prof.select(F.col("source").alias("source_b"),
                    F.col("vec").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.aggregate(F.zip_with("va", "va", lambda x, y: x * y),
                     F.lit(0.0), lambda acc, x: acc + x)
    nb = F.aggregate(F.zip_with("vb", "vb", lambda x, y: x * y),
                     F.lit(0.0), lambda acc, x: acc + x)
    return (a.join(b, F.col("source_a") < F.col("source_b"))
            .select("source_a", "source_b",
                    F.round(dot / (F.sqrt(na) * F.sqrt(nb)), 12)
                    .alias("style_cosine")))


# ---------------------------------------------------------------------------
# boilerplate detection by per-source shingle document frequency
# ---------------------------------------------------------------------------

_BOILER_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, text FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), sh AS (
  SELECT doc_id, source, unnest({SHINGLE3_SQL}) AS g FROM d
), nd AS (
  SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source
), df AS (
  SELECT source, g, COUNT(*) AS df FROM sh GROUP BY source, g
), boiler AS (
  SELECT df.source, df.g
  FROM df JOIN nd USING (source)
  WHERE df.df >= 3 AND df.df * 10 > nd.n_docs
)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(b.g) AS BIGINT) AS n_boiler,
       CAST(COUNT(b.g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS boiler_share
FROM sh LEFT JOIN boiler b ON sh.source = b.source AND sh.g = b.g
GROUP BY sh.doc_id
"""


@register("llm_boilerplate_share", oracle=_BOILER_ORACLE)
def llm_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection by per-source n-gram DOCUMENT FREQUENCY —
    the CCNet/RefinedWeb-style signal that catches navigation chrome,
    license headers, and template filler: a 3-gram shingle present in
    >10% of a source's documents (and >=3 of them) is boilerplate, and
    each document is scored by the share of its distinct shingles that
    are boilerplate. Complements llm_ngram_novelty (first-occurrence
    novelty in INGESTION order) with a source-local, order-free
    frequency criterion; the integer threshold df*10 > n_docs avoids a
    float-compare divergence at the exact 10% boundary.

    Scale shape: one exploded-shingle pass feeds BOTH the df aggregate
    and the join back (localCheckpoint barrier, shared scan); df and
    n_docs are combinable groupBys. The boilerplate set is broadcast:
    its size is bounded by sum(shingles)/(0.1*n_docs) ~ 10x the mean
    document length PER SOURCE — vocabulary-shaped, never corpus-shaped
    — so the big side is never shuffled by shingle."""
    d = (load_table(spark, "documents", sf_dir)
         .select("doc_id", "source", tokens().alias("toks"))
         .where(F.size("toks") >= 3))
    sh = d.select("doc_id", "source",
                  F.explode(shingles3("toks")).alias("g")) \
        .localCheckpoint(eager=False)   # df aggregate + join both read it
    nd = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    df_ = sh.groupBy("source", "g").agg(F.count(F.lit(1)).alias("df"))
    boiler = (df_.join(F.broadcast(nd), "source")
              .where((F.col("df") >= 3)
                     & (F.col("df") * 10 > F.col("n_docs")))
              .select("source", "g", F.lit(1).alias("is_b")))
    return (sh.join(F.broadcast(boiler), ["source", "g"], "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                 F.sum(F.coalesce(F.col("is_b"), F.lit(0)))
                 .cast("bigint").alias("n_boiler"))
            .select("doc_id", "n_shingles", "n_boiler",
                    (F.col("n_boiler").cast("double")
                     / F.col("n_shingles").cast("double"))
                    .alias("boiler_share")))


# ---------------------------------------------------------------------------
# seeded span-corruption masking
# ---------------------------------------------------------------------------

_SPANC_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
), sp AS (
  SELECT doc_id, CAST(floor((pos - 1) / 3) AS BIGINT) AS span,
         string_agg(tok, ' ' ORDER BY pos) AS span_text
  FROM tok GROUP BY doc_id, CAST(floor((pos - 1) / 3) AS BIGINT)
), m AS (
  SELECT doc_id, span, span_text,
         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || '#'
                                         || CAST(span AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 < 2 AS masked
  FROM sp
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id, masked
                                    ORDER BY span) - 1 AS BIGINT) AS mrank
  FROM m
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(*) FILTER (WHERE masked) AS BIGINT) AS n_masked,
       string_agg(CASE WHEN masked
                       THEN '<x_' || CAST(mrank AS VARCHAR) || '>'
                       ELSE span_text END, ' ' ORDER BY span) AS corrupted,
       COALESCE(string_agg('<x_' || CAST(mrank AS VARCHAR) || '> '
                           || span_text, ' ' ORDER BY span)
                FILTER (WHERE masked), '') AS target
FROM r GROUP BY doc_id
"""


@register("llm_span_corruption", oracle=_SPANC_ORACLE)
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption rendering: split each document into
    3-token spans, mask ~20% of them by a SEEDED portable hash
    (md5(doc_id#span) % 10 < 2 — reproducible across runs, engines, and
    cluster sizes), and emit the corrupted input (masked spans replaced
    by numbered sentinels <x_k>) plus the denoising target (sentinels +
    original spans). This is the pretraining-objective materialization
    step a training pipeline runs corpus-wide per epoch.

    Scale shape: ZERO shuffle — span slicing, mask decisions, sentinel
    numbering, and both output strings are computed per row with array
    higher-order functions (one aggregate() fold carrying a
    (k, corrupted, target) struct accumulator). The oracle computes the
    same answer RELATIONALLY (explode + window + ordered string_agg), so
    parity cross-checks two genuinely different algorithms."""
    d = load_table(spark, "documents", sf_dir) \
        .select("doc_id", tokens().alias("toks"))
    n_sp = F.ceil(F.size("toks") / F.lit(3)).cast("int")
    d = d.select(
        "doc_id",
        F.transform(F.sequence(F.lit(0), n_sp - 1),
                    lambda i: F.concat_ws(" ", F.slice("toks", i * 3 + 1, 3)))
        .alias("spans"))
    d = d.select(
        "doc_id", "spans",
        F.transform(
            F.sequence(F.lit(1), F.size("spans")),
            lambda j: F.pmod(
                md5_int60(F.concat(F.col("doc_id").cast("string"),
                                   F.lit("#"), (j - 1).cast("string"))),
                F.lit(10)) < 2).alias("masks"))
    zero = F.struct(F.lit(0).alias("k"), F.lit("").alias("corr"),
                    F.lit("").alias("tgt"))
    sentinel = lambda k: F.concat(F.lit("<x_"), k.cast("string"), F.lit(">"))

    def step(acc, j):
        masked = F.element_at("masks", j)
        span = F.element_at("spans", j)
        return (F.when(masked, F.struct(
                    (acc["k"] + 1).alias("k"),
                    F.concat(acc["corr"], F.lit(" "),
                             sentinel(acc["k"])).alias("corr"),
                    F.concat(acc["tgt"], F.lit(" "), sentinel(acc["k"]),
                             F.lit(" "), span).alias("tgt")))
                .otherwise(F.struct(
                    acc["k"].alias("k"),
                    F.concat(acc["corr"], F.lit(" "), span).alias("corr"),
                    acc["tgt"].alias("tgt"))))

    folded = F.aggregate(F.sequence(F.lit(1), F.size("spans")), zero, step)
    return d.select(
        "doc_id",
        F.size("spans").cast("bigint").alias("n_spans"),
        F.size(F.filter("masks", lambda x: x)).cast("bigint")
        .alias("n_masked"),
        F.ltrim(folded["corr"]).alias("corrupted"),
        F.ltrim(folded["tgt"]).alias("target"))


# ---------------------------------------------------------------------------
# BM25 retrieval SERVE: top-k per query over the corpus
# ---------------------------------------------------------------------------

_RETR_QUERIES = ((1, "spark"), (1, "query"), (1, "fast"),
                 (2, "table"), (2, "scan"), (2, "hash"),
                 (3, "data"), (3, "row"), (3, "merge"))
_RETR_K = 3

_RETR_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _RETR_QUERIES)

_RETR_ORACLE = f"""
WITH queries(query_id, t) AS (VALUES {_RETR_VALUES}),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), doclen AS (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avg_dl FROM doclen
), tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
  WHERE t IN (SELECT DISTINCT t FROM queries) GROUP BY doc_id, t
), df AS (
  SELECT t, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY t
), scored AS (
  SELECT q.query_id, tf.doc_id,
         round(SUM(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * tf.tf * ({_BM25_K1} + 1.0)
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * doclen.dl / stats.avg_dl))), 6) AS bm25
  FROM queries q
  JOIN tf USING (t) JOIN df USING (t) JOIN doclen USING (doc_id)
  CROSS JOIN stats
  GROUP BY q.query_id, tf.doc_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(rank AS BIGINT) AS rank, doc_id, bm25
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY bm25 DESC, doc_id) AS rank
      FROM scored)
WHERE rank <= {_RETR_K}
"""


@register("llm_retrieval_bm25_topk", oracle=_RETR_ORACLE)
def llm_retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time lexical retrieval SERVE: score a batch of queries
    against the corpus with BM25 (Robertson/Okapi, k1=1.2, b=0.75) and
    return the top-3 documents per query — the multi-query fan-in shape
    behind RAG retrieval, dedup-by-retrieval, and eval-set construction,
    where llm_bm25_rank is the corpus-wide scoring twin. Ranking uses
    the 6-dp ROUNDED score (per-(query,doc) sums merge in engine order)
    with doc_id as the total tie-break.

    Scale shape: the corpus is never shuffled by query — only rows whose
    token matches some query term survive the tf filter, and the query
    table (|terms| rows) broadcasts to that filtered set. doclen/df/
    corpus stats are combinable; a real serving system would precompute
    them once per snapshot. Top-k per query is a WindowGroupLimit
    (per-task heads on a handful of query groups)."""
    q = spark.createDataFrame(list(_RETR_QUERIES), "query_id long, t string")
    tf, df_, doclen, stats = _bm25_stats(
        load_table(spark, "documents", sf_dir),
        sorted({t for _, t in _RETR_QUERIES}))
    scored = (tf.join(F.broadcast(q), "t")
              .join(F.broadcast(df_), "t")
              .join(doclen, "doc_id")
              .crossJoin(F.broadcast(stats))
              .groupBy("query_id", "doc_id")
              .agg(F.round(F.sum(_bm25_term_score()), 6).alias("bm25")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= _RETR_K)
            .select("query_id", "rank", "doc_id", "bm25"))


# ---------------------------------------------------------------------------
# HTML markup strip
# ---------------------------------------------------------------------------

_HTML_STRIP_ORACLE = """
WITH r AS (
  SELECT doc_id, source, text,
         '<html><body><h1 class="t">' || source || '</h1><p lang="' || lang
         || '">' || replace(text, ' ', '&nbsp;') || '</p></body></html>'
         AS rendered
  FROM documents
), s AS (
  SELECT doc_id, source, text, rendered,
         replace(regexp_replace(rendered, '<[^>]+>', '', 'g'),
                 '&nbsp;', ' ') AS stripped
  FROM r
)
SELECT doc_id,
       CAST(len(regexp_extract_all(rendered, '<[^>]+>')) AS BIGINT) AS n_tags,
       CAST(length(stripped) AS BIGINT) AS stripped_len,
       stripped = source || text AS clean_ok
FROM s
"""


@register("llm_html_strip", oracle=_HTML_STRIP_ORACLE)
def llm_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate strip — the first pass every web-crawl ingestion
    runs: remove markup tags, decode entities, keep the prose. The
    corpus tables carry pre-cleaned text, so the markup is RENDERED
    deterministically from each row first (tag wrapper + &nbsp;
    entity encoding of spaces — same construction on both engines),
    then stripped back; `clean_ok` proves the strip inverts the render
    exactly, which is the property a real pipeline needs (no prose
    characters lost, no tag fragments leaking into training text).

    Scale shape: ZERO shuffle — render, regexp strip, entity decode,
    and the equality audit are all per-row projections that pipeline
    inside one codegen stage; at 100 TB this runs at scan speed, which
    is why crawl cleaning is IO-bound in practice."""
    d = load_table(spark, "documents", sf_dir)
    rendered = F.concat(
        F.lit('<html><body><h1 class="t">'), F.col("source"), F.lit("</h1>"),
        F.lit('<p lang="'), F.col("lang"), F.lit('">'),
        F.regexp_replace(F.col("text"), " ", "&nbsp;"),
        F.lit("</p></body></html>"))
    stripped = F.regexp_replace(
        F.regexp_replace(rendered, "<[^>]+>", ""), "&nbsp;", " ")
    return d.select(
        "doc_id",
        F.regexp_count(rendered, F.lit("<[^>]+>")).cast("bigint")
        .alias("n_tags"),
        F.length(stripped).cast("bigint").alias("stripped_len"),
        (stripped == F.concat("source", "text")).alias("clean_ok"))


# ---------------------------------------------------------------------------
# Matryoshka embedding truncation
# ---------------------------------------------------------------------------

_MRL_DIMS = 16

_EMB_TRUNC_ORACLE = f"""
WITH x AS (
  SELECT vec_id,
         list_reduce(list_prepend(0.0, list_transform(embedding,
             v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
             (a, b) -> a + b) AS e_full,
         list_reduce(list_prepend(0.0, list_transform(embedding[1:{_MRL_DIMS}],
             v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
             (a, b) -> a + b) AS e_16
  FROM embeddings
)
SELECT vec_id, round(e_full, 12) AS e_full, round(e_16, 12) AS e_16,
       round(sqrt(e_16 / e_full), 12) AS cos_trunc
FROM x
"""


@register("llm_embedding_truncate_renorm", oracle=_EMB_TRUNC_ORACLE)
def llm_embedding_truncate_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style embedding truncation audit: for each vector,
    the energy retained by the first 16 of 64 dims and the cosine
    between the full vector and its truncated-then-renormalized prefix
    (algebraically ||x_1:16|| / ||x|| — the identity the projection
    makes free). This is the measurement a serving team runs before
    switching ANN search to truncated vectors for 4x memory savings:
    the cos_trunc distribution IS the retrieval-quality risk.

    Determinism: energies are LEFT-FOLD sums (F.aggregate here,
    list_reduce in the oracle) so both engines add in the same order —
    bit-identical doubles, with a 12-dp round only as belt-and-braces.

    Scale shape: zero shuffle, one map pass over the vectors; the
    higher-order fold runs JVM-side per row."""
    e = load_table(spark, "embeddings", sf_dir)

    def energy(col):
        return F.aggregate(col, F.lit(0.0),
                           lambda a, x: a + x.cast("double") * x.cast("double"))

    e_full = energy(F.col("embedding"))
    e_16 = energy(F.slice("embedding", 1, _MRL_DIMS))
    return e.select(
        "vec_id",
        F.round(e_full, 12).alias("e_full"),
        F.round(e_16, 12).alias("e_16"),
        F.round(F.sqrt(e_16 / e_full), 12).alias("cos_trunc"))


# ---------------------------------------------------------------------------
# fill-in-the-middle transform
# ---------------------------------------------------------------------------

_FIM_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents WHERE len(string_split(text, ' ')) >= 8
), p AS (
  SELECT doc_id, toks, n,
         GREATEST(1, CAST(floor(n / 4) AS BIGINT)) AS mid_len,
         2 + CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)
                                             || '#fim'), 1, 15)) AS BIGINT)
             % (n - GREATEST(1, CAST(floor(n / 4) AS BIGINT)) - 1) AS mid_start
  FROM t
)
SELECT doc_id, n AS n_toks, mid_start, mid_len,
       '<PRE> ' || array_to_string(toks[1 : CAST(mid_start - 1 AS BIGINT)], ' ')
       || ' <SUF> ' || array_to_string(
            toks[CAST(mid_start + mid_len AS BIGINT) : CAST(n AS BIGINT)], ' ')
       || ' <MID> ' || array_to_string(
            toks[CAST(mid_start AS BIGINT)
                 : CAST(mid_start + mid_len - 1 AS BIGINT)], ' ')
       AS fim
FROM p
"""


@register("llm_fim_transform", oracle=_FIM_ORACLE)
def llm_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) rendering — the code-model pretraining
    transform (PSM order): pick a seeded middle span (~25% of tokens),
    emit `<PRE> prefix <SUF> suffix <MID> middle` so the model learns
    infilling from ordinary left-to-right training. Span choice is a
    portable md5 hash of doc_id (reproducible across runs, engines and
    cluster layouts — the same seeding discipline as
    llm_span_corruption); start is clamped to [2, n-mid_len] so prefix
    and middle are always non-empty.

    Scale shape: ZERO shuffle — tokenize, hash, three array slices and
    a concat per row; epoch-scale FIM materialization is a scan-rate
    map pass, exactly like the T5 span twin."""
    d = (load_table(spark, "documents", sf_dir)
         .select("doc_id", tokens().alias("toks"))
         .where(F.size("toks") >= 8))
    n = F.size("toks").cast("bigint")
    mid_len = F.greatest(F.lit(1).cast("bigint"), F.floor(n / 4))
    h = md5_int60(F.concat(F.col("doc_id").cast("string"), F.lit("#fim")))
    start = F.lit(2).cast("bigint") + F.pmod(h, n - mid_len - 1)
    d = d.select("doc_id", "toks", n.alias("n_toks"),
                 mid_len.alias("mid_len"), start.alias("mid_start"))
    fim = F.concat(
        F.lit("<PRE> "),
        F.array_join(F.slice("toks", F.lit(1),
                             (F.col("mid_start") - 1).cast("int")), " "),
        F.lit(" <SUF> "),
        F.array_join(F.slice("toks",
                             (F.col("mid_start") + F.col("mid_len"))
                             .cast("int"),
                             F.col("n_toks").cast("int")), " "),
        F.lit(" <MID> "),
        F.array_join(F.slice("toks", F.col("mid_start").cast("int"),
                             F.col("mid_len").cast("int")), " "))
    return d.select("doc_id", "n_toks", "mid_start", "mid_len",
                    fim.alias("fim"))


# ---------------------------------------------------------------------------
# LSH (bands × rows) tuning report
# ---------------------------------------------------------------------------

def _shared_shingle_pairs(sig: DataFrame) -> DataFrame:
    """(a_id, b_id, inter): every doc pair a < b that shares a shingle of
    the distinct ``sh`` arrays, with the exact intersection size. The
    inverted index (a hash join on the shingle plus a groupBy) replaces
    an all-pairs array_intersect, since a pair sharing no shingle cannot
    reach a positive Jaccard threshold (measured 7.6 s -> ~1 s at sf0.1
    against the 125k-pair broadcast nested loop with per-pair array ops)."""
    ex = sig.select("doc_id", F.explode("sh").alias("s"))
    p, q = ex.alias("p"), ex.alias("q")
    return (p.join(q, (F.col("p.s") == F.col("q.s"))
                   & (F.col("p.doc_id") < F.col("q.doc_id")))
            .groupBy(F.col("p.doc_id").alias("a_id"),
                     F.col("q.doc_id").alias("b_id"))
            .agg(F.count(F.lit(1)).alias("inter")))


_LSHT_K = 24
_LSHT_TAU = 0.5
_LSHT_CFGS = ((24, 1), (12, 2), (8, 3), (6, 4))

_LSHT_ORACLE = f"""
WITH d AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 1),
           i -> array_to_string(string_split(text, ' ')
                  [CAST(i AS BIGINT):CAST(i + 2 AS BIGINT)], ' '))) AS sh
  FROM documents WHERE doc_id < 500 AND len(string_split(text, ' ')) >= 3
), sig AS (
  SELECT doc_id, sh,
    list_transform(range(0, {_LSHT_K}), i ->
      list_aggregate(list_transform(sh, s ->
        CAST(concat('0x', substring(md5(CAST(i AS VARCHAR) || '#' || s),
                                    1, 15)) AS BIGINT)),
      'min')) AS mh
  FROM d
), tp AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= {_LSHT_TAU}
), cfg(bands, rows_per_band) AS (VALUES (24, 1), (12, 2), (8, 3), (6, 4)),
bd AS (
  SELECT s.doc_id, c.bands, c.rows_per_band, bi.band,
         md5(array_to_string(list_transform(
           range(bi.band * c.rows_per_band, (bi.band + 1) * c.rows_per_band),
           j -> CAST(s.mh[CAST(j AS BIGINT) + 1] AS VARCHAR)), ',')) AS bh
  FROM sig s CROSS JOIN cfg c
  CROSS JOIN (SELECT unnest(range(0, {_LSHT_K})) AS band) bi
  WHERE bi.band < c.bands
), cand AS (
  SELECT DISTINCT x.bands, x.rows_per_band, x.doc_id AS a_id, y.doc_id AS b_id
  FROM bd x JOIN bd y ON x.bands = y.bands
   AND x.rows_per_band = y.rows_per_band
   AND x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
), agg AS (
  SELECT bands, rows_per_band,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(COUNT(*) FILTER (WHERE EXISTS (SELECT 1 FROM tp
               WHERE tp.a_id = cand.a_id AND tp.b_id = cand.b_id))
              AS BIGINT) AS n_caught
  FROM cand GROUP BY bands, rows_per_band
)
SELECT CAST(bands AS BIGINT) AS bands,
       CAST(rows_per_band AS BIGINT) AS rows_per_band,
       n_candidates, (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_true,
       n_caught,
       round(CAST(n_caught AS DOUBLE) / (SELECT COUNT(*) FROM tp), 12)
         AS recall
FROM agg
"""


@register("llm_lsh_tuning_report", oracle=_LSHT_ORACLE)
def llm_lsh_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH (bands × rows) TUNING report — the measurement a data team
    runs before committing a fleet-wide dedup pass: for each banding of
    the same k=24 minhash signature, the candidate-pair count (cost:
    every candidate is an exact-verify downstream) and the recall
    against exact Jaccard ≥ 0.5 ground truth (quality: a missed true
    pair survives dedup). The S-curve P(candidate) = 1−(1−J^r)^b moves
    its threshold with (b, r); this report turns that theory into the
    two numbers that matter on YOUR corpus — here 24×1 floods 93× more
    candidates than 6×4 at identical recall, so the wide-band config
    pays a 93× verify bill for nothing. Audit slice bounded by contract
    (doc_id < 500 — the same bounded-audit shape as llm_minhash_bbit);
    the production banding this informs is llm_dedup_fuzzy_minhash's.

    Portable md5 minhashes end to end, so the DuckDB oracle recomputes
    signatures, banding, candidates, AND recall bit-for-bit.

    Scale shape: signatures are one zero-shuffle HOF pass; each config's
    candidate generation is a band-bucket equi-join (the same shape the
    production LSH uses), never an all-pairs comparison — the only
    all-pairs stage is the bounded ground-truth audit itself."""
    d = (load_table(spark, "documents", sf_dir)
         .where((F.col("doc_id") < 500) & (F.size(tokens()) >= 3))
         .select("doc_id", F.array_distinct(shingles3(
             tokens())).alias("sh")))
    sig = d.select("doc_id", "sh", md5_minhashes("sh", _LSHT_K).alias("mh")) \
        .localCheckpoint(eager=False)

    # exact ground truth from the inverted shingle index
    inter = _shared_shingle_pairs(sig)
    sizes = sig.select("doc_id", F.size("sh").alias("n"))
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    true_pairs = (inter.join(F.broadcast(na), "a_id")
                  .join(F.broadcast(nb), "b_id")
                  .where(F.col("inter").cast("double")
                         / (F.col("na") + F.col("nb")
                            - F.col("inter")).cast("double") >= _LSHT_TAU)
                  .select("a_id", "b_id")
                  .localCheckpoint(eager=False))

    # ALL configs in one dataflow (the oracle's shape): union the per-config
    # band rows, then ONE self-join keyed (bands, rows, band, bh), one
    # distinct, one ground-truth semi-join, one aggregate — replacing four
    # separate join pipelines (4x the jobs; measured 9.8 s -> the union
    # form at sf0.1) while keeping each config's candidates disjoint via
    # the config columns in the join key.
    bd = None
    for nb, nr in _LSHT_CFGS:
        bandh = F.transform(
            F.sequence(F.lit(0), F.lit(nb - 1)),
            lambda bi: F.md5(F.concat_ws(",", F.transform(
                F.sequence(bi * nr, bi * nr + (nr - 1)),
                lambda j: F.element_at("mh", (j + 1).cast("int"))
                .cast("string")))))
        part = sig.select(
            F.lit(nb).cast("bigint").alias("bands"),
            F.lit(nr).cast("bigint").alias("rows_per_band"),
            "doc_id", F.posexplode(bandh).alias("band", "bh"))
        bd = part if bd is None else bd.unionByName(part)
    x = bd.select("bands", "rows_per_band", "band", "bh",
                  F.col("doc_id").alias("a_id"))
    y = bd.select(F.col("bands").alias("bands2"),
                  F.col("rows_per_band").alias("rows2"),
                  F.col("band").alias("band2"), F.col("bh").alias("bh2"),
                  F.col("doc_id").alias("b_id"))
    cand = (x.join(y, (F.col("bands") == F.col("bands2"))
                   & (F.col("rows_per_band") == F.col("rows2"))
                   & (F.col("band") == F.col("band2"))
                   & (F.col("bh") == F.col("bh2"))
                   & (F.col("a_id") < F.col("b_id")))
            .select("bands", "rows_per_band", "a_id", "b_id").distinct()
            # cand feeds BOTH the candidate-count fold and the recall
            # semi-join — uncheckpointed, the band self-join + distinct
            # ran twice per query (the plan had 20 Exchanges, 12 with it)
            .localCheckpoint(eager=False))
    caught = cand.join(true_pairs, ["a_id", "b_id"], "left_semi")
    n_true = true_pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"))
    report = (cand.groupBy("bands", "rows_per_band")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates")))
    caught_n = (caught.groupBy("bands", "rows_per_band")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_caught")))
    # LEFT join + coalesce: a banding whose candidates catch ZERO true
    # pairs must still appear with n_caught=0 (the oracle's COUNT FILTER
    # emits it) — an inner join would silently drop the worst config,
    # which is exactly the one the tuning report exists to expose.
    return (report.join(caught_n, ["bands", "rows_per_band"], "left")
            .crossJoin(F.broadcast(n_true))
            .select("bands", "rows_per_band", "n_candidates", "n_true",
                    F.coalesce("n_caught", F.lit(0).cast("bigint"))
                    .alias("n_caught"),
                    F.round(F.coalesce("n_caught", F.lit(0)).cast("double")
                            / F.col("n_true").cast("double"), 12)
                    .alias("recall")))


# ---------------------------------------------------------------------------
# cross-shard dedup merge
# ---------------------------------------------------------------------------

_XSHARD_ORACLE = """
WITH f AS (
  SELECT doc_id, lang, md5(substring(text, 1, 64)) AS fp,
         CAST(doc_id % 2 AS INT) AS shard
  FROM documents
), ps AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY shard, fp
                                              ORDER BY doc_id) AS rn FROM f)
  WHERE rn = 1
), m AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY fp
                                              ORDER BY doc_id) AS rn2 FROM ps)
  WHERE rn2 = 1
)
SELECT ps_agg.lang, shard_survivors, global_survivors,
       shard_survivors - global_survivors AS cross_shard_dups
FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS shard_survivors
      FROM ps GROUP BY lang) ps_agg
JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS global_survivors
      FROM m GROUP BY lang) m_agg
  ON ps_agg.lang = m_agg.lang
"""


@register("llm_dedup_cross_shard_merge", oracle=_XSHARD_ORACLE)
def llm_dedup_cross_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SHARD dedup merge — the two-level fleet pattern: each
    ingestion shard dedups independently (cheap, shard-local, no
    cross-shard traffic), then a global pass re-dedups only the shard
    SURVIVORS on the same fingerprint. The report quantifies what the
    second level caught per language (cross_shard_dups — duplicates
    whose copies landed in different shards and were invisible to
    level one). This is how dedup actually runs at 100 TB: level one
    shrinks each shard in place where the data lives; level two moves
    only survivors — a tiny fraction of the corpus — through the one
    global shuffle.

    Scale shape: level one partitions by (shard, fp) — at fleet scale
    this is a per-shard local job; level two shuffles survivors only.
    Both levels are keep-first-by-doc_id windows, deterministic."""
    d = load_table(spark, "documents", sf_dir)
    fp = F.md5(F.substring("text", 1, 64))
    shard = (F.col("doc_id") % 2).cast("int")
    w_shard = Window.partitionBy("shard", "fp").orderBy("doc_id")
    per_shard = (d.select("doc_id", "lang", fp.alias("fp"),
                          shard.alias("shard"))
                 .withColumn("rn", F.row_number().over(w_shard))
                 .where(F.col("rn") == 1).drop("rn"))
    w_glob = Window.partitionBy("fp").orderBy("doc_id")
    merged = (per_shard.withColumn("rn", F.row_number().over(w_glob))
              .where(F.col("rn") == 1))
    return (per_shard.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("shard_survivors"))
            .join(merged.groupBy("lang")
                  .agg(F.count(F.lit(1)).cast("bigint")
                       .alias("global_survivors")), "lang")
            .select("lang", "shard_survivors", "global_survivors",
                    (F.col("shard_survivors") - F.col("global_survivors"))
                    .cast("bigint").alias("cross_shard_dups")))


# ---------------------------------------------------------------------------
# paragraph-level dedup share
# ---------------------------------------------------------------------------

_PARA_ORACLE = """
WITH seg AS (
  SELECT DISTINCT doc_id, md5(p) AS fp
  FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS p
        FROM documents)
  WHERE len(p) >= 20
), df AS (
  SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM seg GROUP BY fp
)
SELECT seg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(COUNT(*) FILTER (WHERE df.nd > 1) AS BIGINT) AS n_dup_paras,
       CAST(COUNT(*) FILTER (WHERE df.nd > 1) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_share
FROM seg JOIN df ON seg.fp = df.fp
GROUP BY seg.doc_id
"""


@register("llm_dedup_paragraph", oracle=_PARA_ORACLE)
def llm_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-granularity duplication audit: documents are often
    unique as wholes while sharing boilerplate paragraphs (footers,
    license blocks, templated intros) — whole-doc dedup misses it, and
    span dedup (llm_dedup_span_exact) works at fixed token windows.
    Segment on sentence-ish boundaries ('. ', ≥20 chars), fingerprint
    each distinct segment per doc, count how many docs each fingerprint
    appears in, and report per doc the share of its paragraphs that are
    corpus-duplicated — the number a curation team thresholds on before
    stripping boilerplate.

    Scale shape: segment explode is map-side; the doc-frequency groupBy
    keys on the fingerprint (combinable); the join back is
    fingerprint-keyed (the exploded table meets a fingerprint-sized dim);
    the final per-doc rollup is combinable. Same inverted-index
    discipline as the shingle ops — no pairwise comparison anywhere."""
    d = load_table(spark, "documents", sf_dir)
    seg = (d.select("doc_id", F.explode(F.split("text", r"\. ")).alias("p"))
           .where(F.length("p") >= 20)
           .select("doc_id", F.md5("p").alias("fp"))
           .distinct()
           .localCheckpoint(eager=False))  # feeds df-count AND the join back
    df_count = seg.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("nd"))
    dup = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("bigint")
    return (seg.join(df_count, "fp")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_paras"),
                 dup.alias("n_dup_paras"))
            .select("doc_id", "n_paras", "n_dup_paras",
                    (F.col("n_dup_paras").cast("double")
                     / F.col("n_paras").cast("double")).alias("dup_share")))


# ---------------------------------------------------------------------------
# RAG context packing under a token budget
# ---------------------------------------------------------------------------

_RAG_BUDGET = 512
_RAG_TOPK = 8

_RAG_PACK_ORACLE = f"""
WITH q AS (
  SELECT doc_id AS query_id,
         list_distinct(string_split(text, ' ')[1:5]) AS qtoks
  FROM documents WHERE doc_id < 10
), qt AS (
  SELECT query_id, unnest(qtoks) AS tok FROM q
), ct AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id >= 10
), scored AS (
  SELECT qt.query_id, ct.doc_id,
         CAST(COUNT(*) AS BIGINT) AS score
  FROM qt JOIN ct ON qt.tok = ct.tok
  GROUP BY qt.query_id, ct.doc_id
), ranked AS (
  SELECT s.query_id, s.doc_id, s.score,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS doc_tokens,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY s.score DESC, s.doc_id) AS rank
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
), packed AS (
  SELECT query_id, rank, doc_id, score, doc_tokens,
         SUM(doc_tokens) OVER (PARTITION BY query_id ORDER BY rank
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM ranked WHERE rank <= {_RAG_TOPK}
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score, doc_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM packed WHERE cum_tokens <= {_RAG_BUDGET}
"""


@register("llm_rag_context_pack", oracle=_RAG_PACK_ORACLE)
def llm_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly: retrieve top-k candidate documents per query
    (shared-distinct-token overlap score through the inverted token
    index), then GREEDY-PACK them into the prompt in rank order until a
    512-token budget is exhausted — the exact packing rule a
    retrieval-augmented serving layer applies between 'retrieval' and
    'prompt'. The budget cut is a running-sum window in rank order, so a
    doc that overflows the budget drops along with everything ranked
    below it.

    Scale shape: the query set is tiny by construction (broadcast side);
    corpus tokens explode once and meet the query tokens on the token
    key — a hot token costs |queries| pairs per occurrence, bounded by
    the query set, never the corpus (the llm_eval_ngram_recall
    discipline). Ranking and packing are per-query windows over ≤
    {_RAG_TOPK} rows each."""
    d = load_table(spark, "documents", sf_dir)
    q = (d.where(F.col("doc_id") < 10)
         .select(F.col("doc_id").alias("query_id"),
                 F.explode(F.array_distinct(
                     F.slice(tokens(), 1, 5))).alias("tok")))
    ct = (d.where(F.col("doc_id") >= 10)
          .select("doc_id", F.explode(tokens())
                  .alias("tok")).distinct())
    scored = (ct.join(F.broadcast(q), "tok")
              .groupBy("query_id", "doc_id")
              .agg(F.count(F.lit(1)).cast("bigint").alias("score")))
    toks = d.select("doc_id", F.size(tokens())
                    .cast("bigint").alias("doc_tokens"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id"))
    ranked = (scored.join(toks, "doc_id")
              .select("query_id", "doc_id", "score", "doc_tokens",
                      F.row_number().over(w).cast("bigint").alias("rank"))
              .where(F.col("rank") <= _RAG_TOPK))
    wsum = (Window.partitionBy("query_id").orderBy("rank")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (ranked
            .select("query_id", "rank", "doc_id", "score", "doc_tokens",
                    F.sum("doc_tokens").over(wsum).cast("bigint")
                    .alias("cum_tokens"))
            .where(F.col("cum_tokens") <= _RAG_BUDGET))


# ---------------------------------------------------------------------------
# curriculum schedule
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = """
WITH b AS (
  SELECT doc_id, n_chars,
         ntile(4) OVER (ORDER BY n_chars, doc_id) AS epoch
  FROM documents
)
SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
       CAST(row_number() OVER (
         PARTITION BY epoch
         ORDER BY md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)),
                  doc_id) AS BIGINT) AS position
FROM b
"""


@register("llm_curriculum_schedule", oracle=_CURRICULUM_ORACLE)
def llm_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: quartile documents by a difficulty
    proxy (length), train epochs easy→hard (epoch = NTILE(4) of the
    total difficulty order), and DETERMINISTICALLY shuffle within each
    epoch by an md5 of (doc_id, epoch) — reproducible across reruns and
    engines, the llm_shuffle_deterministic discipline applied to
    curriculum buckets instead of one global order. NTILE's equal-fill
    semantics (remainder to the leading buckets) are SQL-standard and
    identical in both engines; ties in the difficulty order are broken
    by doc_id so the quartile boundaries are exact.

    Scale shape: epoch assignment is the two-pass bucketed rank
    (bucketed.py — length buckets → broadcast prefix offsets → the
    SQL-standard NTILE formula off the exact global rank), so the
    corpus never passes through a single-partition window (no
    'No Partition Defined' window, pinned in test_plans.py); the
    within-epoch md5 order is a plain partitioned sort key — nothing
    about the schedule itself is sequential."""
    d = load_table(spark, "documents", sf_dir)
    b = bucketed_order(d.select("doc_id", "n_chars"), "n_chars",
                       ["doc_id"], ntile={"epoch": 4}) \
        .select("doc_id", "epoch")
    wpos = Window.partitionBy("epoch").orderBy(
        F.md5(F.concat_ws("#", F.col("doc_id").cast("string"),
                          F.col("epoch").cast("string"))), F.col("doc_id"))
    return b.select("doc_id", "epoch",
                    F.row_number().over(wpos).cast("bigint")
                    .alias("position"))


# ---------------------------------------------------------------------------
# minhash Jaccard ESTIMATE vs exact
# ---------------------------------------------------------------------------

_MJE_K = 16
_MJE_MIN_J = 0.2

_MJE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 1),
           i -> array_to_string(string_split(text, ' ')
                  [CAST(i AS BIGINT):CAST(i + 2 AS BIGINT)], ' '))) AS sh
  FROM documents WHERE doc_id < 300 AND len(string_split(text, ' ')) >= 3
), sig AS (
  SELECT doc_id, sh,
    list_transform(range(0, {_MJE_K}), i ->
      list_aggregate(list_transform(sh, s ->
        CAST(concat('0x', substring(md5(CAST(i AS VARCHAR) || '#' || s),
                                    1, 15)) AS BIGINT)),
      'min')) AS mh
  FROM d
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_filter(range(1, {_MJE_K} + 1),
                 i -> a.mh[i] = b.mh[i])) AS BIGINT) AS n_agree,
       CAST(len(list_filter(range(1, {_MJE_K} + 1),
                 i -> a.mh[i] = b.mh[i])) AS DOUBLE) / {_MJE_K}.0
         AS est_jaccard,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
         AS exact_jaccard
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) >= 1
  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
      >= {_MJE_MIN_J}
"""


@register("llm_minhash_jaccard_estimate", oracle=_MJE_ORACLE)
def llm_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash as an ESTIMATOR, audited: for every candidate pair (≥1
    shared shingle, exact Jaccard ≥ 0.2 on a bounded doc_id < 300 audit
    slice), the k=16 signature-agreement estimate next to the exact
    Jaccard — the table a team reads to pick k before trusting
    signature-only dedup at fleet scale (E[est] = J; sd ≈ √(J(1−J)/k)).
    Portable md5 minhashes end-to-end (the llm_lsh_tuning_report
    discipline), so DuckDB recomputes signatures AND estimates
    bit-for-bit.

    Scale shape: candidate generation goes through the inverted shingle
    index (shared-shingle equi join + groupBy), never all-pairs — the
    oracle's brute-force join is the oracle's job; signatures are one
    zero-shuffle HOF pass; the estimate is a per-pair array fold over
    2·k longs."""
    d = (load_table(spark, "documents", sf_dir)
         .where((F.col("doc_id") < 300) & (F.size(tokens()) >= 3))
         .select("doc_id", F.array_distinct(
             shingles3(tokens())).alias("sh")))
    sig = d.select("doc_id", "sh", F.size("sh").alias("n_sh"),
                   md5_minhashes("sh", _MJE_K).alias("mh")) \
        .localCheckpoint(eager=False)

    # candidates: the pairs sharing >= 1 shingle
    inter = _shared_shingle_pairs(sig)
    sa = sig.select(F.col("doc_id").alias("a_id"),
                    F.col("n_sh").alias("na"), F.col("mh").alias("mh_a"))
    sb = sig.select(F.col("doc_id").alias("b_id"),
                    F.col("n_sh").alias("nb"), F.col("mh").alias("mh_b"))
    exact = (F.col("inter").cast("double")
             / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"))
    n_agree = F.aggregate(
        F.zip_with("mh_a", "mh_b",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v).cast("bigint")
    return (inter.join(F.broadcast(sa), "a_id")
            .join(F.broadcast(sb), "b_id")
            .where(exact >= _MJE_MIN_J)
            .select("a_id", "b_id", n_agree.alias("n_agree"),
                    (n_agree.cast("double") / F.lit(float(_MJE_K)))
                    .alias("est_jaccard"),
                    exact.alias("exact_jaccard")))


# ---------------------------------------------------------------------------
# readability scoring
# ---------------------------------------------------------------------------

_READABILITY_ORACLE = """
WITH c AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(len(list_filter(string_split(text, '. '),
                              p -> len(trim(p)) > 0)) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       206.835
       - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         AS flesch
FROM c WHERE n_sentences > 0 AND n_words > 0
"""


@register("llm_readability_score", oracle=_READABILITY_ORACLE)
def llm_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic curation signal for
    audience targeting and for catching machine-generated word salad
    (implausibly uniform syllable/word ratios). Syllables are the
    standard regex approximation (vowel-group count), sentences are
    '.␣'-boundary segments, words whitespace tokens — all three exact
    integer counts, so the score is a fixed tree of two int→double
    divisions, two constant multiplies and two subtractions, evaluated
    in the same order by both engines (bit-identical, no rounding
    needed).

    Scale shape: pure map-side (regexp + split per row, no shuffle at
    all) — the cheapest possible corpus pass, same class as
    llm_text_stats."""
    d = load_table(spark, "documents", sf_dir)
    n_words = F.size(tokens()).cast("bigint")
    n_sentences = F.size(F.filter(
        F.split("text", r"\. "),
        lambda p: F.length(F.trim(p)) > 0)).cast("bigint")
    n_syll = F.size(F.expr(
        r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("bigint")
    c = d.select("doc_id", n_words.alias("n_words"),
                 n_sentences.alias("n_sentences"),
                 n_syll.alias("n_syllables")) \
        .where((F.col("n_sentences") > 0) & (F.col("n_words") > 0))
    flesch = (F.lit(206.835)
              - F.lit(1.015) * (F.col("n_words").cast("double")
                                / F.col("n_sentences").cast("double"))
              - F.lit(84.6) * (F.col("n_syllables").cast("double")
                               / F.col("n_words").cast("double")))
    return c.select("doc_id", "n_words", "n_sentences", "n_syllables",
                    flesch.alias("flesch"))


# ---------------------------------------------------------------------------
# labeler agreement (Cohen's kappa)
# ---------------------------------------------------------------------------

_KAPPA_ORACLE = """
WITH lab AS (
  SELECT doc_id,
         n_chars > 400 AS l1,
         len(string_split(text, ' ')) > 60 AS l2
  FROM documents
), c AS (
  SELECT CAST(COUNT(*) FILTER (WHERE l1 AND l2) AS BIGINT) AS n11,
         CAST(COUNT(*) FILTER (WHERE l1 AND NOT l2) AS BIGINT) AS n10,
         CAST(COUNT(*) FILTER (WHERE NOT l1 AND l2) AS BIGINT) AS n01,
         CAST(COUNT(*) FILTER (WHERE NOT l1 AND NOT l2) AS BIGINT) AS n00,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lab
)
SELECT n11, n10, n01, n00,
       CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
       + (CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE)) AS pe,
       (CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
        - ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
           + (CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE))))
       / (1.0 - ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                 + (CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE))))
         AS kappa
FROM c
"""


@register("llm_label_agreement_kappa", oracle=_KAPPA_ORACLE)
def llm_label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic labelers (char-length
    rule vs token-count rule) — the chance-corrected agreement a
    labeling pipeline reports before trusting weak supervision or a
    model-vs-heuristic comparison (raw agreement po flatters imbalanced
    labels; kappa subtracts the chance term pe). The contingency counts
    are one combinable aggregate; po/pe/kappa are a fixed tree of
    int→double divisions, products and one final division — identical
    expression order on both engines, bit-exact.

    Scale shape: single map-side conditional-count aggregate over the
    corpus; output is one row."""
    d = load_table(spark, "documents", sf_dir)
    l1 = F.col("n_chars") > 400
    l2 = F.size(tokens()) > 60

    def cnt(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    c = d.agg(cnt(l1 & l2, "n11"), cnt(l1 & ~l2, "n10"),
              cnt(~l1 & l2, "n01"), cnt(~l1 & ~l2, "n00"),
              F.count(F.lit(1)).cast("bigint").alias("n"))
    dbl = lambda col: col.cast("double")  # noqa: E731
    n = dbl(F.col("n"))
    po = dbl(F.col("n11") + F.col("n00")) / n
    pe = ((dbl(F.col("n11") + F.col("n10")) / n)
          * (dbl(F.col("n11") + F.col("n01")) / n)
          + (dbl(F.col("n01") + F.col("n00")) / n)
          * (dbl(F.col("n10") + F.col("n00")) / n))
    return c.select("n11", "n10", "n01", "n00", po.alias("po"),
                    pe.alias("pe"),
                    ((po - pe) / (F.lit(1.0) - pe)).alias("kappa"))


# ---------------------------------------------------------------------------
# Zipf fit of the word-frequency table
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = """
WITH wc AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY lang, tok
), ranked AS (
  SELECT lang, freq,
         row_number() OVER (PARTITION BY lang
                            ORDER BY freq DESC, tok) AS rnk
  FROM wc
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       round(regr_slope(ln(CAST(freq AS DOUBLE)),
                        ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope,
       round(regr_r2(ln(CAST(freq AS DOUBLE)),
                     ln(CAST(rnk AS DOUBLE))), 6) AS fit_r2
FROM ranked WHERE rnk <= 1000
GROUP BY lang
"""


@register("llm_zipf_fit", oracle=_ZIPF_ORACLE)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of each language's word-frequency table: regress
    log(freq) on log(rank) over the top-1000 types — slope ≈ −1 is
    natural text; a flat or broken slope is the cheapest
    machine-generated/template-corpus alarm, and the fit also
    sanity-checks tokenizer health after vocabulary changes. Uses the
    SQL:2003 `regr_slope`/`regr_r2` built-ins (one-pass mergeable
    moments) over the ranked frequency table; rounded at 6 dp because
    the engines' internal float-moment merge order differs — the
    agg_regr_builtins discipline.

    Scale shape: the word count is the one corpus-sized (combinable)
    groupBy; ranking runs per language over the type table (Heaps-
    bounded, millions of rows at 100 TB, not the corpus), and the
    rnk ≤ 1000 head keeps the regression input constant-sized."""
    d = load_table(spark, "documents", sf_dir)
    wc = (d.select("lang", F.explode(tokens()).alias("tok"))
          .groupBy("lang", "tok")
          .agg(F.count(F.lit(1)).cast("bigint").alias("freq")))
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("tok"))
    ranked = (wc.select("lang", "freq",
                        F.row_number().over(w).alias("rnk"))
              .where(F.col("rnk") <= 1000))
    lf = F.log(F.col("freq").cast("double"))
    lr = F.log(F.col("rnk").cast("double"))
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 6).alias("fit_r2"))


# ---------------------------------------------------------------------------
# maximal marginal relevance re-ranking
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_POOL = 8

_MMR_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id < 5
), pool AS (
  SELECT vec_id AS cand_id, embedding AS ce FROM embeddings
  WHERE vec_id >= 5
), sims AS (
  SELECT query_id, cand_id, {_cosine_sql('qe', 'ce')} AS sim
  FROM q CROSS JOIN pool
), cand AS (
  SELECT query_id, cand_id, sim FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, cand_id) AS rn
    FROM sims) WHERE rn <= {_MMR_POOL}
), ce AS (
  SELECT c.query_id, c.cand_id, c.sim, e.embedding
  FROM cand c JOIN embeddings e ON c.cand_id = e.vec_id
), cc AS (
  SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
         {_cosine_sql('a.embedding', 'b.embedding')} AS csim
  FROM ce a JOIN ce b
    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
), p1 AS (
  SELECT query_id, cand_id AS p1_id, sim AS p1_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, cand_id) AS rn
    FROM cand) WHERE rn = 1
), s2 AS (
  SELECT c.query_id, c.cand_id, c.sim,
         {_MMR_LAMBDA} * c.sim - {1 - _MMR_LAMBDA:.1f} * cc.csim AS mmr
  FROM ce c
  JOIN p1 ON p1.query_id = c.query_id
  JOIN cc ON cc.query_id = c.query_id AND cc.a_id = c.cand_id
         AND cc.b_id = p1.p1_id
  WHERE c.cand_id <> p1.p1_id
), p2 AS (
  SELECT query_id, cand_id AS p2_id, sim AS p2_sim, mmr AS p2_mmr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, cand_id) AS rn
    FROM s2) WHERE rn = 1
), s3 AS (
  SELECT c.query_id, c.cand_id, c.sim,
         {_MMR_LAMBDA} * c.sim
           - {1 - _MMR_LAMBDA:.1f} * greatest(c1.csim, c2.csim) AS mmr
  FROM ce c
  JOIN p1 ON p1.query_id = c.query_id
  JOIN p2 ON p2.query_id = c.query_id
  JOIN cc c1 ON c1.query_id = c.query_id AND c1.a_id = c.cand_id
            AND c1.b_id = p1.p1_id
  JOIN cc c2 ON c2.query_id = c.query_id AND c2.a_id = c.cand_id
            AND c2.b_id = p2.p2_id
  WHERE c.cand_id <> p1.p1_id AND c.cand_id <> p2.p2_id
), p3 AS (
  SELECT query_id, cand_id AS p3_id, sim AS p3_sim, mmr AS p3_mmr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, cand_id) AS rn
    FROM s3) WHERE rn = 1
)
SELECT query_id, CAST(1 AS BIGINT) AS rank, p1_id AS vec_id,
       p1_sim AS sim, p1_sim AS mmr_score FROM p1
UNION ALL
SELECT query_id, CAST(2 AS BIGINT), p2_id, p2_sim, p2_mmr FROM p2
UNION ALL
SELECT query_id, CAST(3 AS BIGINT), p3_id, p3_sim, p3_mmr FROM p3
"""


@register("llm_sim_mmr_rerank", oracle=_MMR_ORACLE)
def llm_sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (λ=0.7, 3 picks from a
    top-8 candidate pool per query): the diversity-aware selection every
    retrieval layer runs between 'top-k by similarity' and 'context
    window' — pick₁ is the best match, each later pick maximizes
    λ·sim(q,c) − (1−λ)·max_{{p∈picked}} sim(c,p), so near-duplicates of
    an already-picked document are penalized out. MMR is inherently
    sequential, but k is FIXED and tiny, so the recursion UNROLLS into
    k window-argmax stages — fully SQL-expressible, value-exact oracle
    (unlike LTTB, whose selection count is data-sized). All cosines use
    the shared sequential-fold dot product (bit-identical across
    engines); every argmax tie-breaks on vec_id.

    Scale shape: query side broadcasts; candidate generation is the
    per-query top-k (window over the scored pool — the tiled GEMM path
    at fleet scale, llm_sim_knn_per_query); everything after operates
    on ≤8 rows per query (pairwise sims = ≤64 rows per query), so the
    unrolled stages cost nothing that scales with the corpus."""
    e = load_table(spark, "embeddings", sf_dir)
    q = (e.where(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qe")))
    pool = (e.where(F.col("vec_id") >= 5)
            .select(F.col("vec_id").alias("cand_id"),
                    F.col("embedding").alias("ce")))
    sims = pool.crossJoin(F.broadcast(q)).select(
        "query_id", "cand_id",
        _cosine_spark(F.col("qe"), F.col("ce")).alias("sim"),
        F.col("ce").alias("embedding"))
    w_sim = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("cand_id"))
    ce = (sims.withColumn("rn", F.row_number().over(w_sim))
          .where(F.col("rn") <= _MMR_POOL)
          .select("query_id", "cand_id", "sim", "embedding")
          .localCheckpoint(eager=False))  # feeds cc, p1, s2, s3
    a, b = ce.alias("a"), ce.alias("b")
    cc = (a.join(b, (F.col("a.query_id") == F.col("b.query_id"))
                 & (F.col("a.cand_id") != F.col("b.cand_id")))
          .select(F.col("a.query_id").alias("query_id"),
                  F.col("a.cand_id").alias("a_id"),
                  F.col("b.cand_id").alias("b_id"),
                  _cosine_spark(F.col("a.embedding"), F.col("b.embedding"))
                  .alias("csim"))
          .localCheckpoint(eager=False))  # reused by s2 and s3
    lam, mu = F.lit(_MMR_LAMBDA), F.lit(round(1 - _MMR_LAMBDA, 1))
    p1 = (ce.withColumn("rn", F.row_number().over(w_sim))
          .where(F.col("rn") == 1)
          .select("query_id", F.col("cand_id").alias("p1_id"),
                  F.col("sim").alias("p1_sim")))
    s2 = (ce.join(F.broadcast(p1), "query_id")
          .where(F.col("cand_id") != F.col("p1_id"))
          .join(cc.select("query_id", F.col("a_id").alias("cand_id"),
                          F.col("b_id").alias("p1_id"), "csim"),
                ["query_id", "cand_id", "p1_id"])
          .select("query_id", "cand_id", "sim",
                  (lam * F.col("sim") - mu * F.col("csim")).alias("mmr")))
    w_mmr = Window.partitionBy("query_id").orderBy(
        F.col("mmr").desc(), F.col("cand_id"))
    p2 = (s2.withColumn("rn", F.row_number().over(w_mmr))
          .where(F.col("rn") == 1)
          .select("query_id", F.col("cand_id").alias("p2_id"),
                  F.col("sim").alias("p2_sim"), F.col("mmr").alias("p2_mmr")))
    s3 = (ce.join(F.broadcast(p1), "query_id")
          .join(F.broadcast(p2), "query_id")
          .where((F.col("cand_id") != F.col("p1_id"))
                 & (F.col("cand_id") != F.col("p2_id")))
          .join(cc.select("query_id", F.col("a_id").alias("cand_id"),
                          F.col("b_id").alias("p1_id"),
                          F.col("csim").alias("csim1")),
                ["query_id", "cand_id", "p1_id"])
          .join(cc.select("query_id", F.col("a_id").alias("cand_id"),
                          F.col("b_id").alias("p2_id"),
                          F.col("csim").alias("csim2")),
                ["query_id", "cand_id", "p2_id"])
          .select("query_id", "cand_id", "sim",
                  (lam * F.col("sim")
                   - mu * F.greatest("csim1", "csim2")).alias("mmr")))
    p3 = (s3.withColumn("rn", F.row_number().over(w_mmr))
          .where(F.col("rn") == 1))
    out1 = p1.select("query_id", F.lit(1).cast("bigint").alias("rank"),
                     F.col("p1_id").alias("vec_id"),
                     F.col("p1_sim").alias("sim"),
                     F.col("p1_sim").alias("mmr_score"))
    out2 = p2.select("query_id", F.lit(2).cast("bigint").alias("rank"),
                     F.col("p2_id").alias("vec_id"),
                     F.col("p2_sim").alias("sim"),
                     F.col("p2_mmr").alias("mmr_score"))
    out3 = p3.select("query_id", F.lit(3).cast("bigint").alias("rank"),
                     F.col("cand_id").alias("vec_id"), "sim",
                     F.col("mmr").alias("mmr_score"))
    return out1.unionByName(out2).unionByName(out3)


# ---------------------------------------------------------------------------
# code-likeness heuristic
# ---------------------------------------------------------------------------

_CODE_KEYWORDS = ("scan", "hash", "sort", "merge", "query", "vector",
                  "join", "filter", "agg", "spark")

_CODE_KW_SQL = ", ".join(f"'{k}'" for k in _CODE_KEYWORDS)

_CODE_DETECT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), c AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks,
              t -> list_contains([{_CODE_KW_SQL}], t))) AS BIGINT) AS kw_hits
  FROM t
)
SELECT doc_id, lang, n_tokens, kw_hits,
       round(CAST(kw_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS kw_density,
       CAST(kw_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.2
         AS is_codey
FROM c
"""


@register("llm_code_detect_heuristic", oracle=_CODE_DETECT_ORACLE)
def llm_code_detect_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-lexicon code-likeness score per document — the share of
    tokens drawn from a curated programming vocabulary, the cheap
    first-pass router that decides whether a doc flows to the code
    pipeline (BPE with code pre-tokenizer, syntax-aware dedup) or the
    prose one. Same genre as llm_lang_id's n-gram heuristic: a
    deterministic lexicon classifier that runs entirely map-side — real
    curation stacks swap the lexicon for brace/indent symbol ratios,
    which the synthetic corpus (plain lowercase words) cannot exercise.
    The density is a rational of exact counts rounded to 6 dp; the flag
    compares the UNROUNDED ratio (one IEEE division, identical both
    engines) against the 0.2 threshold.

    Scale shape: split + filter per row, zero shuffles — the plan is a
    pure scan-project, embarrassingly parallel at any corpus size."""
    d = load_table(spark, "documents", sf_dir)
    kw_arr = F.array(*[F.lit(k) for k in _CODE_KEYWORDS])
    toks = tokens()
    hits = F.size(F.filter(toks, lambda t: F.array_contains(kw_arr, t)))
    dens = hits.cast("double") / F.size(toks).cast("double")
    return d.select(
        "doc_id", "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        hits.cast("bigint").alias("kw_hits"),
        F.round(dens, 6).alias("kw_density"),
        (dens >= F.lit(0.2)).alias("is_codey"))


# ---------------------------------------------------------------------------
# temperature-scaled sampling weights
# ---------------------------------------------------------------------------

_TEMP_TAU = 0.7

_TEMP_ORACLE = f"""
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY lang
), t AS (
  SELECT lang, n_docs,
         CAST(SUM(n_docs) OVER () AS BIGINT) AS total,
         CAST(round(pow(CAST(n_docs AS DOUBLE)
                        / CAST(SUM(n_docs) OVER () AS DOUBLE),
                        {_TEMP_TAU}), 6) AS DECIMAL(18, 6)) AS w6
  FROM c
), s AS (
  SELECT lang, n_docs, total, w6,
         CAST(SUM(w6) OVER () AS DECIMAL(38, 6)) AS wtot
  FROM t
)
SELECT lang, n_docs,
       CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS raw_share,
       CAST(w6 AS DOUBLE) / CAST(wtot AS DOUBLE) AS temp_share,
       (CAST(w6 AS DOUBLE) / CAST(wtot AS DOUBLE))
         / (CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE))
         AS upsample_factor
FROM s
"""


@register("llm_sample_temperature_weights", oracle=_TEMP_ORACLE)
def llm_sample_temperature_weights(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language (τ=0.7) — the
    multilingual mixing recipe (XLM-R-style): qᵢ ∝ pᵢ^τ flattens the
    language distribution so low-resource languages upsample without
    letting them dominate; the output's upsample_factor is the knob a
    mixing job feeds to llm_mix_epoch_upsample. Determinism: pow() is
    the one non-portable step (libm vs Math.pow), so the weight rounds
    to 6 dp and — the subtle part — the CROSS-LANGUAGE normalizer sums
    those rounded weights in DECIMAL(18,6) space, because a float sum
    over the partition would be association-order-dependent (the same
    decimal-space trick the money paths use). Every share is then one
    exact-operand IEEE division.

    Scale shape: one combinable count groupBy to the language table;
    everything after is windows over ≤5 rows."""
    d = load_table(spark, "documents", sf_dir)
    c = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint")
                              .alias("n_docs"))
    wall = Window.partitionBy()
    t = c.select(
        "lang", "n_docs",
        F.sum("n_docs").over(wall).cast("bigint").alias("total"))
    w6 = F.round(
        F.pow(F.col("n_docs").cast("double")
              / F.col("total").cast("double"), F.lit(_TEMP_TAU)),
        6).cast("decimal(18,6)")
    s = t.select("lang", "n_docs", "total", w6.alias("w6")) \
         .select("lang", "n_docs", "total", "w6",
                 F.sum("w6").over(wall).cast("decimal(38,6)").alias("wtot"))
    raw = F.col("n_docs").cast("double") / F.col("total").cast("double")
    temp = F.col("w6").cast("double") / F.col("wtot").cast("double")
    return s.select("lang", "n_docs", raw.alias("raw_share"),
                    temp.alias("temp_share"),
                    (temp / raw).alias("upsample_factor"))


# ---------------------------------------------------------------------------
# c-TF-IDF cluster topic terms
# ---------------------------------------------------------------------------

_CTFIDF_TOP_K = 5

_CTFIDF_ORACLE = f"""
WITH joined AS (
  SELECT e.label, unnest(string_split(d.text, ' ')) AS term
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
), tf AS (
  SELECT label, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM joined GROUP BY label, term
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_clusters FROM tf GROUP BY term
), nl AS (
  SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels FROM tf
), scored AS (
  SELECT tf.label, tf.term, tf.tf, df.df_clusters,
         round(CAST(tf.tf AS DOUBLE)
               * ln(1.0 + CAST(nl.n_labels AS DOUBLE)
                          / CAST(df.df_clusters AS DOUBLE)), 6) AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN nl
), ranked AS (
  SELECT label, term, tf, df_clusters, score,
         row_number() OVER (PARTITION BY label
                            ORDER BY score DESC, term) AS rk
  FROM scored
)
SELECT CAST(label AS BIGINT) AS label, term, tf, df_clusters, score,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_CTFIDF_TOP_K}
"""


@register("llm_cluster_topic_terms", oracle=_CTFIDF_ORACLE)
def llm_cluster_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF topic terms per embedding cluster — the BERTopic-style
    labeling step: treat each cluster (the embeddings' label column,
    joined doc_id=vec_id) as ONE meta-document, score terms by
    tf·ln(1 + N/df) where df counts CLUSTERS containing the term, and
    keep the top 5 per cluster. This is what turns an opaque clustering
    into something a curator can read. The score passes through ln, so
    it rounds to 6 dp and the per-cluster ranking orders by the ROUNDED
    score with a term tiebreak — both engines rank identical keys.

    Scale shape: token explode → one combinable (label, term) groupBy
    (vocabulary × clusters bounded); df is a second combinable fold over
    that table; top-k is a per-label window over the scored
    vocabulary — corpus size only touches the first explode."""
    d = load_table(spark, "documents", sf_dir)
    e = load_table(spark, "embeddings", sf_dir)
    joined = (d.join(e, d.doc_id == e.vec_id)
              .select("label", F.explode(tokens()).alias("term")))
    tf = (joined.groupBy("label", "term")
          .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
          .localCheckpoint(eager=False))  # df + scoring share it
    df = (tf.groupBy("term")
          .agg(F.count(F.lit(1)).cast("bigint").alias("df_clusters")))
    nl = tf.agg(F.count_distinct("label").cast("bigint").alias("n_labels"))
    scored = (tf.join(F.broadcast(df), "term")
              .crossJoin(F.broadcast(nl))
              .select("label", "term", "tf", "df_clusters",
                      F.round(F.col("tf").cast("double")
                              * F.log(F.lit(1.0)
                                      + F.col("n_labels").cast("double")
                                      / F.col("df_clusters").cast("double")),
                              6).alias("score")))
    w = Window.partitionBy("label").orderBy(F.col("score").desc(), "term")
    return (scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rk") <= _CTFIDF_TOP_K)
            .select(F.col("label").cast("bigint").alias("label"),
                    "term", "tf", "df_clusters", "score", "rk"))


# ---------------------------------------------------------------------------
# token-overlap F1 eval metric
# ---------------------------------------------------------------------------

_F1_ORACLE = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 17
), pred AS (
  SELECT doc_id, unnest(l[1:12]) AS t FROM base
), gold AS (
  SELECT doc_id, unnest(l[6:17]) AS t FROM base
), pc AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c FROM pred
  GROUP BY doc_id, t
), gc AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c FROM gold
  GROUP BY doc_id, t
), ov AS (
  SELECT COALESCE(pc.doc_id, gc.doc_id) AS doc_id,
         CAST(SUM(LEAST(COALESCE(pc.c, 0), COALESCE(gc.c, 0))) AS BIGINT)
           AS n_overlap
  FROM pc FULL OUTER JOIN gc
    ON pc.doc_id = gc.doc_id AND pc.t = gc.t
  GROUP BY COALESCE(pc.doc_id, gc.doc_id)
)
SELECT doc_id, CAST(12 AS BIGINT) AS n_pred, CAST(12 AS BIGINT) AS n_gold,
       n_overlap,
       CAST(n_overlap AS DOUBLE) / 12.0 AS precision_tok,
       CAST(n_overlap AS DOUBLE) / 12.0 AS recall_tok,
       CASE WHEN n_overlap = 0 THEN 0.0
            ELSE 2.0 * (CAST(n_overlap AS DOUBLE) / 12.0)
                 * (CAST(n_overlap AS DOUBLE) / 12.0)
                 / ((CAST(n_overlap AS DOUBLE) / 12.0)
                    + (CAST(n_overlap AS DOUBLE) / 12.0)) END AS f1_tok
FROM ov
"""


def _clipped_overlap(pred: DataFrame, gold: DataFrame, unit: str) -> DataFrame:
    """(doc_id, n_overlap): the clipped multiset overlap
    Σ_u min(c_pred, c_gold) of two (doc_id, ``unit``) frames, through a
    full outer join of their per-(doc, unit) count tables."""
    pc = (pred.groupBy("doc_id", unit)
          .agg(F.count(F.lit(1)).cast("bigint").alias("cp")))
    gc = (gold.groupBy("doc_id", unit)
          .agg(F.count(F.lit(1)).cast("bigint").alias("cg")))
    return (pc.join(gc, ["doc_id", unit], "full_outer")
            .groupBy("doc_id")
            .agg(F.sum(F.least(F.coalesce("cp", F.lit(0)),
                               F.coalesce("cg", F.lit(0))))
                 .cast("bigint").alias("n_overlap")))


@register("llm_eval_token_f1", oracle=_F1_ORACLE)
def llm_eval_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQuAD-style token-overlap F1 between a prediction span and a gold
    span — THE extractive-QA/summarization eval metric; here the spans
    are deterministic fixed windows of each doc (tokens 1–12 vs 6–17,
    a known 7-token overlap structure perturbed by repeated words), so
    the metric machinery — MULTISET overlap Σ_t min(c_pred, c_gold),
    precision, recall, harmonic F1 — is exercised end-to-end with a
    value-exact oracle. Overlap counting is exact-integer via a full
    outer join of the two per-(doc, token) count tables; P/R/F1 are
    rationals through identical trees, with the F1 0/0 guard spelled as
    the same CASE in both engines.

    Scale shape: two explodes bounded by span length (12 tokens/doc,
    corpus-linear), two combinable count groupBys, one doc+token-keyed
    outer join, one per-doc fold — every stage key-partitioned."""
    d = load_table(spark, "documents", sf_dir).where(F.size(tokens()) >= 17)
    base = d.select("doc_id", tokens().alias("l"))
    pred = base.select("doc_id",
                       F.explode(F.slice("l", 1, 12)).alias("t"))
    gold = base.select("doc_id",
                       F.explode(F.slice("l", 6, 12)).alias("t"))
    ov = _clipped_overlap(pred, gold, "t")
    p = F.col("n_overlap").cast("double") / F.lit(12.0)
    return ov.select(
        "doc_id",
        F.lit(12).cast("bigint").alias("n_pred"),
        F.lit(12).cast("bigint").alias("n_gold"),
        "n_overlap",
        p.alias("precision_tok"),
        p.alias("recall_tok"),
        F.when(F.col("n_overlap") == 0, F.lit(0.0))
        .otherwise(F.lit(2.0) * p * p / (p + p)).alias("f1_tok"))


# ---------------------------------------------------------------------------
# SFT loss-mask spans
# ---------------------------------------------------------------------------

_MASK_ORACLE = """
WITH parts AS (
  SELECT doc_id,
         length('<|system|>' || chr(10)
                || 'You are a careful assistant. Answer in ' || lang
                || '.' || chr(10)) AS l_sys,
         length('<|user|>' || chr(10)
                || 'Summarize the following document from ' || source
                || ':' || chr(10) || text || chr(10)) AS l_user,
         length('<|assistant|>' || chr(10)) AS l_asst
  FROM documents
)
SELECT doc_id, seg, CAST(start_char AS BIGINT) AS start_char,
       CAST(end_char AS BIGINT) AS end_char, train_mask
FROM (
  SELECT doc_id, 'system' AS seg, 0 AS start_char, l_sys AS end_char,
         false AS train_mask FROM parts
  UNION ALL
  SELECT doc_id, 'user', l_sys, l_sys + l_user, false FROM parts
  UNION ALL
  SELECT doc_id, 'assistant', l_sys + l_user, l_sys + l_user + l_asst,
         true FROM parts
)
"""


@register("llm_loss_mask_spans", oracle=_MASK_ORACLE)
def llm_loss_mask_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask construction — for each rendered chat sample
    (the llm_format_chat_template rendering, byte-for-byte), the
    character spans of the system / user / assistant segments with the
    train_mask flag that tells the trainer to compute loss ONLY on the
    assistant segment: the step that turns a formatted corpus into a
    supervised dataset without leaking prompt tokens into the loss.
    Spans are pure length arithmetic over the template parts (exact
    integers; same lengths both engines because the parts are the same
    concatenations), emitted as 3 rows per doc via a map-side inline
    explode.

    Scale shape: zero shuffles — length arithmetic and a generator on
    the scan; the companion template op shares the exact part
    definitions so the spans always index its rendering."""
    d = load_table(spark, "documents", sf_dir)
    nl = F.lit("\n")
    p_sys = F.concat(F.lit("<|system|>"), nl,
                     F.lit("You are a careful assistant. Answer in "),
                     F.col("lang"), F.lit("."), nl)
    p_user = F.concat(F.lit("<|user|>"), nl,
                      F.lit("Summarize the following document from "),
                      F.col("source"), F.lit(":"), nl, F.col("text"), nl)
    p_asst = F.concat(F.lit("<|assistant|>"), nl)
    l_sys = F.length(p_sys).cast("bigint")
    l_user = F.length(p_user).cast("bigint")
    l_asst = F.length(p_asst).cast("bigint")
    spans = F.array(
        F.struct(F.lit("system").alias("seg"),
                 F.lit(0).cast("bigint").alias("start_char"),
                 l_sys.alias("end_char"),
                 F.lit(False).alias("train_mask")),
        F.struct(F.lit("user").alias("seg"),
                 l_sys.alias("start_char"),
                 (l_sys + l_user).alias("end_char"),
                 F.lit(False).alias("train_mask")),
        F.struct(F.lit("assistant").alias("seg"),
                 (l_sys + l_user).alias("start_char"),
                 (l_sys + l_user + l_asst).alias("end_char"),
                 F.lit(True).alias("train_mask")))
    return (d.select("doc_id", F.explode(spans).alias("s"))
            .select("doc_id", F.col("s.seg").alias("seg"),
                    "s.start_char", "s.end_char", "s.train_mask"))


# ---------------------------------------------------------------------------
# lexicon sentiment scoring
# ---------------------------------------------------------------------------

_SENTIMENT_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('fast', 'small'))) AS BIGINT)
           AS n_pos,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('slow', 'big'))) AS BIGINT)
           AS n_neg
  FROM documents
)
SELECT doc_id, lang, n_pos, n_neg,
       CASE WHEN n_pos > n_neg THEN 'positive'
            WHEN n_pos < n_neg THEN 'negative'
            ELSE 'neutral' END AS sentiment,
       CASE WHEN n_pos + n_neg = 0 THEN 0.0
            ELSE CAST(n_pos - n_neg AS DOUBLE)
                 / CAST(n_pos + n_neg AS DOUBLE) END AS polarity
FROM scored
"""


@register("llm_sentiment_lexicon", oracle=_SENTIMENT_ORACLE)
def llm_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment per document -- the PAPERS.md genre
    (large-scale sentiment analysis on Spark, EDBT 2016) in its
    classical distributed form: a fixed positive/negative word list,
    per-doc matched-token counts, a polarity score
    (n_pos - n_neg)/(n_pos + n_neg) and a three-way label. The corpus's
    own vocabulary supplies the poles (fast/small vs slow/big); swapping
    in a real lexicon (AFINN, VADER's word list) changes only the two
    literal lists. Counts are exact integers from one HOF filter (no
    explode, no shuffle); polarity is a single int/int division with
    the 0/0 CASE guard spelled identically in both engines.

    Scale shape: pure map-side projection -- zero exchanges, perfect
    row-linear scaling; the lexicon lives in the closure, never joined."""
    d = load_table(spark, "documents", sf_dir)
    toks = tokens()
    n_pos = F.size(F.filter(toks, lambda t: t.isin("fast", "small"))) \
        .cast("bigint")
    n_neg = F.size(F.filter(toks, lambda t: t.isin("slow", "big"))) \
        .cast("bigint")
    scored = d.select("doc_id", "lang", n_pos.alias("n_pos"),
                      n_neg.alias("n_neg"))
    tot = F.col("n_pos") + F.col("n_neg")
    return scored.select(
        "doc_id", "lang", "n_pos", "n_neg",
        F.when(F.col("n_pos") > F.col("n_neg"), F.lit("positive"))
        .when(F.col("n_pos") < F.col("n_neg"), F.lit("negative"))
        .otherwise(F.lit("neutral")).alias("sentiment"),
        F.when(tot == 0, F.lit(0.0))
        .otherwise((F.col("n_pos") - F.col("n_neg")).cast("double")
                   / tot.cast("double")).alias("polarity"))


# ---------------------------------------------------------------------------
# ROUGE-2 bigram-overlap eval
# ---------------------------------------------------------------------------

_ROUGE2_ORACLE = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 17
), pred AS (
  SELECT doc_id, unnest(list_transform(range(1, 12),
                                       i -> l[i] || ' ' || l[i + 1])) AS g
  FROM base
), gold AS (
  SELECT doc_id, unnest(list_transform(range(6, 17),
                                       i -> l[i] || ' ' || l[i + 1])) AS g
  FROM base
), pc AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM pred
  GROUP BY doc_id, g
), gc AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM gold
  GROUP BY doc_id, g
), ov AS (
  SELECT COALESCE(pc.doc_id, gc.doc_id) AS doc_id,
         CAST(SUM(LEAST(COALESCE(pc.c, 0), COALESCE(gc.c, 0))) AS BIGINT)
           AS n_overlap
  FROM pc FULL OUTER JOIN gc
    ON pc.doc_id = gc.doc_id AND pc.g = gc.g
  GROUP BY COALESCE(pc.doc_id, gc.doc_id)
)
SELECT doc_id, n_overlap,
       CAST(n_overlap AS DOUBLE) / 11.0 AS rouge2_p,
       CAST(n_overlap AS DOUBLE) / 11.0 AS rouge2_r,
       CASE WHEN n_overlap = 0 THEN 0.0
            ELSE 2.0 * (CAST(n_overlap AS DOUBLE) / 11.0)
                 * (CAST(n_overlap AS DOUBLE) / 11.0)
                 / ((CAST(n_overlap AS DOUBLE) / 11.0)
                    + (CAST(n_overlap AS DOUBLE) / 11.0)) END AS rouge2_f
FROM ov
"""


@register("llm_eval_rouge2", oracle=_ROUGE2_ORACLE)
def llm_eval_rouge2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 between the same deterministic pred/gold spans as
    llm_eval_token_f1 (tokens 1-12 vs 6-17) -- the bigram-overlap
    summarization metric that unigram F1 cannot see: scrambled word
    order keeps F1 high but destroys consecutive-pair matches, so
    ROUGE-2 is the fluency-sensitive eval every summarization harness
    reports next to F1. Clipped MULTISET bigram overlap via the same
    full-outer-join-of-count-tables machinery (NOT distinct shingles --
    repeated bigrams clip at min(c_pred, c_gold), the official ROUGE
    definition); both spans contribute exactly 11 bigrams, so P = R
    here and the harmonic F keeps the shared 0/0 CASE guard.

    Scale shape: two explodes bounded by span length (11 bigrams/doc,
    corpus-linear), two combinable count groupBys, one (doc, bigram)
    outer join, one per-doc fold -- every stage key-partitioned."""
    d = load_table(spark, "documents", sf_dir) \
        .where(F.size(tokens()) >= 17)
    base = d.select("doc_id", tokens().alias("l"))

    def bigrams(lo: int, hi: int):
        return F.explode(F.transform(
            F.sequence(F.lit(lo), F.lit(hi)),
            lambda i: F.concat_ws(" ", F.element_at("l", i),
                                  F.element_at("l", i + 1))))

    pred = base.select("doc_id", bigrams(1, 11).alias("g"))
    gold = base.select("doc_id", bigrams(6, 16).alias("g"))
    ov = _clipped_overlap(pred, gold, "g")
    p = F.col("n_overlap").cast("double") / F.lit(11.0)
    return ov.select(
        "doc_id", "n_overlap",
        p.alias("rouge2_p"), p.alias("rouge2_r"),
        F.when(F.col("n_overlap") == 0, F.lit(0.0))
        .otherwise(F.lit(2.0) * p * p / (p + p)).alias("rouge2_f"))


# ---------------------------------------------------------------------------
# feature hashing trick
# ---------------------------------------------------------------------------

_FH_BUCKETS = 64

_FEATURE_HASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT)
           % {_FH_BUCKETS} AS bucket,
         CASE WHEN CAST(concat('0x', substring(md5(t), 9, 1)) AS BIGINT)
                   % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM tok
), cells AS (
  SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS w
  FROM hashed GROUP BY doc_id, bucket
)
SELECT doc_id,
       string_agg(bucket || ':' || w, ' ' ORDER BY bucket) AS features,
       CAST(COUNT(*) AS BIGINT) AS n_nonzero
FROM cells WHERE w <> 0 GROUP BY doc_id
"""


@register("llm_feature_hashing", oracle=_FEATURE_HASH_ORACLE)
def llm_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al.): project each document's
    token stream into a FIXED 64-bucket feature vector with md5-derived
    bucket and sign (the signed variant that makes collisions cancel in
    expectation) -- the vocabulary-free vectorizer that needs no fitted
    dictionary, no vocabulary broadcast, and no schema change when new
    tokens appear; THE feature-prep step between raw text and any
    linear/GBDT model at corpus scale. Weights are exact signed BIGINT
    counts; the vector projects as the sorted 'bucket:weight' packed
    string (maps have no entry order -- the type_map_pack container
    rule), zero-weight cells dropped.

    Scale shape: explode -> one combinable (doc, bucket) groupBy -> one
    per-doc ordered pack; bucket count is FIXED so the per-doc state is
    O(64) regardless of vocabulary growth -- the entire point of the
    trick at 100 TB."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(tokens()).alias("t"))
    bucket = (F.conv(F.substring(F.md5("t"), 1, 8), 16, 10)
              .cast("bigint") % _FH_BUCKETS)
    sgn = F.when(F.conv(F.substring(F.md5("t"), 9, 1), 16, 10)
                 .cast("bigint") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    cells = (tok.select("doc_id", bucket.alias("bucket"),
                        sgn.alias("sgn"))
             .groupBy("doc_id", "bucket")
             .agg(F.sum("sgn").cast("bigint").alias("w"))
             .where(F.col("w") != 0))
    return (cells.groupBy("doc_id")
            .agg(F.array_join(F.transform(
                F.array_sort(F.collect_list(
                    F.struct("bucket", "w"))),
                lambda s: F.concat_ws(":", s["bucket"].cast("string"),
                                      s["w"].cast("string"))), " ")
                .alias("features"),
                F.count(F.lit(1)).cast("bigint").alias("n_nonzero")))


# ---------------------------------------------------------------------------
# out-of-fold target encoding
# ---------------------------------------------------------------------------

_TE_FOLDS = 4

_TARGET_ENCODE_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority AS cat,
         CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)),
                                     1, 8)) AS BIGINT) % {_TE_FOLDS}
           AS fold,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), cell AS (
  SELECT cat, fold, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s
  FROM base GROUP BY cat, fold
), catsum AS (
  SELECT cat, fold, n, s,
         CAST(SUM(n) OVER (PARTITION BY cat) AS BIGINT) AS n_cat,
         CAST(SUM(s) OVER (PARTITION BY cat) AS BIGINT) AS s_cat
  FROM cell
)
SELECT cat, fold, n AS n_in_fold,
       CAST(s_cat - s AS DOUBLE) / CAST(n_cat - n AS DOUBLE) / 100.0
         AS te_out_of_fold_dollars
FROM catsum
"""


@register("ml_target_encode_kfold", oracle=_TARGET_ENCODE_ORACLE)
def ml_target_encode_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold out-of-fold target encoding of order priority against
    order value -- the leakage-safe categorical encoder (a row's own
    fold is EXCLUDED from its encoding, so the feature never memorizes
    its own target; plain category-mean encoding is the classic silent
    overfit). Folds are deterministic md5(orderkey) % 4; every encoding
    is (S_cat - S_fold)/(N_cat - N_fold) from exact integer cent sums --
    one combinable (category, fold) groupBy plus category windows over
    the k*|cats| = 20-row cell table, NEVER a per-row recompute: every
    row in a (cat, fold) cell shares the same encoding, so the cell
    grain IS the output (join it back to rows map-side at apply time).

    Scale shape: corpus folds once to 20 cells; windows run over those
    20 rows -- data-size-free after the first exchange, and the apply
    join broadcasts 20 rows."""
    o = load_table(spark, "orders", sf_dir)
    fold = (F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")),
                               1, 8), 16, 10).cast("bigint") % _TE_FOLDS)
    cents = round_cents("o_totalprice")
    cell = (o.select(F.col("o_orderpriority").alias("cat"),
                     fold.alias("fold"), cents.alias("cents"))
            .groupBy("cat", "fold")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum("cents").cast("bigint").alias("s")))
    wc = Window.partitionBy("cat")
    catsum = cell.select(
        "cat", "fold", "n", "s",
        F.sum("n").over(wc).cast("bigint").alias("n_cat"),
        F.sum("s").over(wc).cast("bigint").alias("s_cat"))
    return catsum.select(
        "cat", "fold", F.col("n").alias("n_in_fold"),
        ((F.col("s_cat") - F.col("s")).cast("double")
         / (F.col("n_cat") - F.col("n")).cast("double") / F.lit(100.0))
        .alias("te_out_of_fold_dollars"))


# ---------------------------------------------------------------------------
# prompt-injection safety pattern filter
# ---------------------------------------------------------------------------

_INJ_PATTERNS = ("ignore previous instructions",
                 "disregard all prior rules",
                 "reveal your system prompt")
_INJ_RX = "(" + "|".join(_INJ_PATTERNS) + ")"

_SAFETY_ORACLE = f"""
WITH rendered AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN
           text || ' ' || ['{_INJ_PATTERNS[0]}', '{_INJ_PATTERNS[1]}',
                           '{_INJ_PATTERNS[2]}'][(doc_id // 13) % 3 + 1]
         ELSE text END AS prompt,
         doc_id % 13 = 0 AS injected
  FROM documents
)
SELECT doc_id, injected,
       regexp_matches(prompt, '{_INJ_RX}') AS flagged,
       CASE WHEN regexp_matches(prompt, '{_INJ_RX}')
            THEN regexp_extract(prompt, '{_INJ_RX}') END
         AS matched_pattern
FROM rendered
"""


@register("llm_safety_pattern_filter", oracle=_SAFETY_ORACLE)
def llm_safety_pattern_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt-injection screening -- the fixed-lexicon safety filter
    every instruction-data pipeline runs before training (jailbreak
    phrases in pretraining data teach the model to comply with them).
    Every 13th document gets a planted injection phrase (cycled from a
    3-pattern lexicon -- the llm_html_strip render-then-verify fixture
    trick, so ground truth is known by construction in BOTH engines);
    the filter is one alternation regexp, and the output carries the
    planted flag NEXT TO the detected flag plus the first matched
    pattern -- on this lexicon the filter is exact (flagged == injected
    row-for-row), and a real deployment swaps in the longer lexicon
    without changing the plan.

    Scale shape: pure map-side regexp projection, zero shuffles; the
    lexicon lives in the pattern literal, never joined."""
    d = load_table(spark, "documents", sf_dir)
    plant = F.element_at(
        F.array(*[F.lit(p) for p in _INJ_PATTERNS]),
        ((F.floor(F.col("doc_id") / 13) % 3) + 1).cast("int"))
    prompt = F.when(F.col("doc_id") % 13 == 0,
                    F.concat_ws(" ", F.col("text"), plant)) \
        .otherwise(F.col("text"))
    rendered = d.select("doc_id", prompt.alias("prompt"),
                        (F.col("doc_id") % 13 == 0).alias("injected"))
    hit = F.regexp_extract("prompt", _INJ_RX, 1)
    return rendered.select(
        "doc_id", "injected",
        (hit != "").alias("flagged"),
        F.when(hit != "", hit).alias("matched_pattern"))


# ---------------------------------------------------------------------------
# curation pipeline v2: the curation stages composed end-to-end
# ---------------------------------------------------------------------------

_V2_BUDGET = 512

_PIPE_V2_ORACLE = f"""
WITH rendered AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 13 = 0 THEN
           text || ' ' || ['{_INJ_PATTERNS[0]}', '{_INJ_PATTERNS[1]}',
                           '{_INJ_PATTERNS[2]}'][(doc_id // 13) % 3 + 1]
         ELSE text END AS prompt
  FROM documents
), safe AS (
  -- stage 1: safety — drop docs the injection screen flags
  SELECT doc_id, text FROM rendered
  WHERE NOT regexp_matches(prompt, '{_INJ_RX}')
), quality AS (
  -- stage 2: quality — minimum length
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM safe WHERE len(string_split(text, ' ')) >= 20
), seg AS (
  SELECT DISTINCT doc_id, md5(p) AS fp
  FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS p
        FROM quality)
  WHERE len(p) >= 20
), dfc AS (
  SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM seg GROUP BY fp
), para AS (
  SELECT seg.doc_id,
         CAST(COUNT(*) FILTER (WHERE dfc.nd > 1) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS dup_share
  FROM seg JOIN dfc ON seg.fp = dfc.fp GROUP BY seg.doc_id
), deduped AS (
  -- stage 3: paragraph-boilerplate gate (share computed over the
  -- SURVIVING corpus — the pipeline's own population, not the raw one)
  SELECT q.doc_id, q.text, q.n_tokens
  FROM quality q JOIN para p ON q.doc_id = p.doc_id
  WHERE p.dup_share <= 0.5
), labeled AS (
  -- stage 4: sentiment label rides along
  SELECT doc_id, n_tokens,
         CASE WHEN len(list_filter(string_split(text, ' '),
                                   t -> t IN ('fast', 'small')))
                   > len(list_filter(string_split(text, ' '),
                                     t -> t IN ('slow', 'big')))
              THEN 1 ELSE 0 END AS is_positive
  FROM deduped
), staged AS (
  -- stage 5: curriculum quartile over the total length order
  SELECT doc_id, n_tokens, is_positive,
         CAST(ntile(4) OVER (ORDER BY n_tokens, doc_id) AS BIGINT)
           AS difficulty_q
  FROM labeled
), placed AS (
  -- stage 6: pack per quartile in deterministic md5 shuffle order
  SELECT difficulty_q, n_tokens, is_positive,
         CAST((SUM(n_tokens) OVER (PARTITION BY difficulty_q
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                            doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens)
              // {_V2_BUDGET} AS BIGINT) AS seq_id
  FROM staged
)
SELECT difficulty_q, seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
       CAST(SUM(is_positive) AS BIGINT) AS n_positive
FROM placed GROUP BY difficulty_q, seq_id
"""


@register("llm_pipeline_curation_v2", oracle=_PIPE_V2_ORACLE)
def llm_pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation stages composed END-TO-END — what
    llm_pipeline_end_to_end is to the quality/dedup operators, this is
    to the third ring: safety screen (injection regexp drops flagged docs) →
    quality floor (≥20 tokens) → paragraph-boilerplate gate (corpus
    dup_share ≤ 0.5, doc frequencies computed over the pipeline's own
    surviving population) → sentiment label attached → curriculum
    quartile (NTILE over the total length order) → deterministic
    md5-shuffle sequence packing at a 512-token budget. Output is the
    training-sequence manifest: per (difficulty quartile, sequence)
    document count, token fill and positive-sentiment mix — the table a
    data loader and a mixture dashboard both read.

    Every stage is the SAME logic as its standalone operator
    (llm_safety_pattern_filter, llm_dedup_paragraph,
    llm_sentiment_lexicon, llm_curriculum_schedule, llm_pack_sequences),
    so the composite proves the family COMPOSES without drift, and the
    whole chain stays value-exact oracled — integers and one ntile.

    Scale shape: map-side screen/floor/label; one fingerprint-keyed
    df-count exchange for the paragraph gate; the difficulty quartile
    is the two-pass bucketed rank (bucketed.py, the
    llm_curriculum_schedule swap — no single-partition window over the
    surviving corpus, pinned in test_plans.py); packing windows
    partition by quartile."""
    d = load_table(spark, "documents", sf_dir)
    plant = F.element_at(
        F.array(*[F.lit(p) for p in _INJ_PATTERNS]),
        ((F.floor(F.col("doc_id") / 13) % 3) + 1).cast("int"))
    prompt = F.when(F.col("doc_id") % 13 == 0,
                    F.concat_ws(" ", F.col("text"), plant)) \
        .otherwise(F.col("text"))
    safe = (d.select("doc_id", "text", prompt.alias("prompt"))
            .where(F.regexp_extract("prompt", _INJ_RX, 1) == "")
            .drop("prompt"))
    toks = tokens()
    # pin the post-screen population — it feeds both the paragraph
    # inventory and the dup-share join, so the injection-regexp screen
    # over the full corpus ran 2x per query without it
    quality = (safe.select("doc_id", "text",
                           F.size(toks).cast("bigint").alias("n_tokens"))
               .where(F.size(toks) >= 20)
               .localCheckpoint(eager=False))
    seg = (quality
           .select("doc_id", F.explode(F.split("text", r"\. ")).alias("p"))
           .where(F.length("p") >= 20)
           .select("doc_id", F.md5("p").alias("fp"))
           .distinct()
           .localCheckpoint(eager=False))
    dfc = seg.groupBy("fp").agg(F.countDistinct("doc_id").alias("nd"))
    para = (seg.join(dfc, "fp")
            .groupBy("doc_id")
            .agg((F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                  .cast("double")
                  / F.count(F.lit(1)).cast("double")).alias("dup_share")))
    deduped = (quality.join(para, "doc_id")
               .where(F.col("dup_share") <= 0.5))
    n_pos = F.size(F.filter(toks, lambda t: t.isin("fast", "small")))
    n_neg = F.size(F.filter(toks, lambda t: t.isin("slow", "big")))
    labeled = deduped.select(
        "doc_id", "n_tokens",
        F.when(n_pos > n_neg, F.lit(1)).otherwise(F.lit(0))
        .alias("is_positive"))
    # localCheckpoint before bucketed_order (the RFM staging discipline,
    # sequences.py seq_rfm_segments): bucketed_order reads its input in up to
    # four plan branches; without the pin each branch re-executes the
    # whole six-stage screen/floor/paragraph-gate/label pipeline
    # (a 2.3x benchmark regression when it was missing)
    staged = bucketed_order(
        labeled.select("doc_id", "n_tokens", "is_positive")
        .localCheckpoint(eager=False),
        "n_tokens", ["doc_id"], ntile={"difficulty_q": 4})
    wp = (Window.partitionBy("difficulty_q")
          .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = F.sum("n_tokens").over(wp) - F.col("n_tokens")
    placed = staged.select(
        "difficulty_q", "n_tokens", "is_positive",
        F.floor(start / _V2_BUDGET).cast("bigint").alias("seq_id"))
    return (placed.groupBy("difficulty_q", "seq_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
                 F.sum("is_positive").cast("bigint").alias("n_positive")))


# ---------------------------------------------------------------------------
# sequence-packing budget sweep
# ---------------------------------------------------------------------------

_SWEEP_BUDGETS = (256, 512, 1024)

_PACK_SWEEP_ORACLE = f"""
WITH budgets AS (
  SELECT unnest([{", ".join(str(b) for b in _SWEEP_BUDGETS)}]) AS budget
), toks AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), placed AS (
  SELECT b.budget, t.lang, t.n_tokens,
         CAST((SUM(t.n_tokens) OVER (PARTITION BY b.budget, t.lang
                                     ORDER BY t.doc_id
                                     ROWS UNBOUNDED PRECEDING)
               - t.n_tokens) // b.budget AS BIGINT) AS seq_id
  FROM toks t CROSS JOIN budgets b
), seqs AS (
  SELECT budget, lang, seq_id,
         CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
  FROM placed GROUP BY budget, lang, seq_id
)
SELECT CAST(budget AS BIGINT) AS budget, lang,
       CAST(COUNT(*) AS BIGINT) AS n_seqs,
       CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(seq_tokens) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * CAST(budget AS DOUBLE))
         AS fill_ratio
FROM seqs GROUP BY budget, lang
"""


@register("llm_pack_budget_sweep", oracle=_PACK_SWEEP_ORACLE)
def llm_pack_budget_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency swept across three context budgets
    (256/512/1024) in ONE query -- the pick-your-context-length table:
    small budgets waste tokens to fragmentation (a 300-token doc
    spills), large ones dilute batch diversity; this reports sequences,
    total tokens and fill ratio per (budget, lang) so the tradeoff is a
    lookup, not a rerun (llm_pack_sequences is the single-budget
    packer this sweeps). Same first-token placement rule; counts exact;
    fill is one division.

    Scale shape: the x3 budget fan-out is a broadcast spine; the
    running-sum window partitions by (budget, lang) so the sweep is
    exactly 3x the single-budget window work, all key-parallel; both
    rollups combinable."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", "lang",
                    F.size(tokens()).cast("bigint")
                    .alias("n_tokens"))
    budgets = spark.createDataFrame([(b,) for b in _SWEEP_BUDGETS],
                                    "budget long")
    w = (Window.partitionBy("budget", "lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    placed = (toks.crossJoin(F.broadcast(budgets))
              .select("budget", "lang", "n_tokens",
                      F.floor(start / F.col("budget")).cast("bigint")
                      .alias("seq_id")))
    seqs = (placed.groupBy("budget", "lang", "seq_id")
            .agg(F.sum("n_tokens").cast("bigint").alias("seq_tokens")))
    return (seqs.groupBy("budget", "lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
                 F.sum("seq_tokens").cast("bigint").alias("total_tokens"))
            .select(F.col("budget").cast("bigint").alias("budget"), "lang",
                    "n_seqs", "total_tokens",
                    (F.col("total_tokens").cast("double")
                     / (F.col("n_seqs").cast("double")
                        * F.col("budget").cast("double")))
                    .alias("fill_ratio")))


# ---------------------------------------------------------------------------
# uncertainty sampling for active learning
# ---------------------------------------------------------------------------

_UNCERTAINTY_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('fast', 'small'))) AS BIGINT)
           AS n_pos,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('slow', 'big'))) AS BIGINT)
           AS n_neg
  FROM documents
), margin AS (
  -- uncertainty = |pos - neg| scaled by evidence: integer margin keyed
  -- (|p-n|, -(p+n)) so ties prefer MORE evidence, deterministic
  SELECT doc_id, lang, n_pos, n_neg,
         abs(n_pos - n_neg) AS m, n_pos + n_neg AS ev
  FROM scored WHERE n_pos + n_neg > 0
), ranked AS (
  SELECT doc_id, lang, n_pos, n_neg,
         row_number() OVER (PARTITION BY lang
                            ORDER BY m, ev DESC, doc_id) AS rk
  FROM margin
)
SELECT lang, CAST(rk AS BIGINT) AS rank, doc_id, n_pos, n_neg
FROM ranked WHERE rk <= 10
"""


@register("llm_uncertainty_sampling", oracle=_UNCERTAINTY_ORACLE)
def llm_uncertainty_sampling(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Active-learning batch selection by MARGIN uncertainty: the 10
    documents per language whose lexicon-sentiment evidence is most
    BALANCED (smallest |n_pos - n_neg|, ties preferring more total
    evidence, then doc_id) -- the pick-what-to-label-next query that
    makes a labeling budget compound: certain docs teach the model
    nothing. Pure integer margins off the llm_sentiment_lexicon
    counts; the ranking key is a total order, so the batch is
    deterministic.

    Scale shape: map-side scoring; one per-lang rank window
    (WindowGroupLimit keeps only per-task top-10 heads); no shuffle
    carries more than candidates-per-task."""
    d = load_table(spark, "documents", sf_dir)
    toks = tokens()
    n_pos = F.size(F.filter(toks, lambda t: t.isin("fast", "small"))) \
        .cast("bigint")
    n_neg = F.size(F.filter(toks, lambda t: t.isin("slow", "big"))) \
        .cast("bigint")
    scored = d.select("doc_id", "lang", n_pos.alias("n_pos"),
                      n_neg.alias("n_neg")) \
        .where(F.col("n_pos") + F.col("n_neg") > 0)
    w = Window.partitionBy("lang").orderBy(
        F.abs(F.col("n_pos") - F.col("n_neg")),
        (F.col("n_pos") + F.col("n_neg")).desc(), "doc_id")
    return (scored.select("lang",
                          F.row_number().over(w).cast("bigint")
                          .alias("rank"),
                          "doc_id", "n_pos", "n_neg")
            .where(F.col("rank") <= 10))


# ---------------------------------------------------------------------------
# RAG groundedness eval
# ---------------------------------------------------------------------------

_RAG_GROUND_ORACLE = f"""
WITH q AS (
  SELECT doc_id AS query_id,
         list_distinct(string_split(text, ' ')[1:5]) AS qtoks
  FROM documents WHERE doc_id < 10
), qt AS (
  SELECT query_id, unnest(qtoks) AS tok FROM q
), ct AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id >= 10
), scored AS (
  SELECT qt.query_id, ct.doc_id, CAST(COUNT(*) AS BIGINT) AS score
  FROM qt JOIN ct ON qt.tok = ct.tok
  GROUP BY qt.query_id, ct.doc_id
), ranked AS (
  SELECT s.query_id, s.doc_id, s.score,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS doc_tokens,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY s.score DESC, s.doc_id) AS rank
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
), packed AS (
  SELECT query_id, doc_id
  FROM (SELECT query_id, rank, doc_id,
               SUM(doc_tokens) OVER (PARTITION BY query_id ORDER BY rank
                                     ROWS UNBOUNDED PRECEDING)
                 AS cum_tokens
        FROM ranked WHERE rank <= {_RAG_TOPK})
  WHERE cum_tokens <= {_RAG_BUDGET}
), ctx_toks AS (
  SELECT DISTINCT p.query_id, ct.tok
  FROM packed p JOIN ct ON p.doc_id = ct.doc_id
), ans_toks AS (
  SELECT DISTINCT d.doc_id AS query_id, unnest(string_split(d.text, ' '))
           AS tok
  FROM documents d WHERE d.doc_id < 10
), cov AS (
  SELECT a.query_id,
         CAST(COUNT(*) AS BIGINT) AS n_answer_toks,
         CAST(COUNT(c.tok) AS BIGINT) AS n_covered
  FROM ans_toks a
  LEFT JOIN ctx_toks c ON a.query_id = c.query_id AND a.tok = c.tok
  GROUP BY a.query_id
), nd AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_ctx_docs
  FROM packed GROUP BY query_id
)
SELECT cov.query_id, COALESCE(nd.n_ctx_docs, 0) AS n_ctx_docs,
       cov.n_answer_toks, cov.n_covered,
       CAST(cov.n_covered AS DOUBLE) / CAST(cov.n_answer_toks AS DOUBLE)
         AS coverage
FROM cov LEFT JOIN nd ON cov.query_id = nd.query_id
"""


@register("llm_rag_groundedness_eval", oracle=_RAG_GROUND_ORACLE)
def llm_rag_groundedness_eval(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """RAG GROUNDEDNESS: for each query, what share of the full answer
    document's distinct vocabulary the PACKED context
    (llm_rag_context_pack's exact budget cut, replayed stage-for-stage)
    actually contains -- the can-the-answer-even-be-grounded ceiling a
    RAG deploy measures before blaming the generator: tokens the
    context never carried cannot be attributed to it. Closes the
    retrieve -> pack -> EVAL loop the way llm_eval_retrieval_mrr closes
    embedding retrieval. All set logic on distinct (query, token)
    grains; one division per query.

    Scale shape: the pack chain's own shapes (broadcast query side,
    token-keyed joins), then two distinct-grain joins bounded by
    |queries| x vocabulary."""
    d = load_table(spark, "documents", sf_dir)
    q = (d.where(F.col("doc_id") < 10)
         .select(F.col("doc_id").alias("query_id"),
                 F.explode(F.array_distinct(
                     F.slice(tokens(), 1, 5))).alias("tok")))
    ct = (d.where(F.col("doc_id") >= 10)
          .select("doc_id", F.explode(tokens()).alias("tok"))
          .distinct())
    scored = (ct.join(F.broadcast(q), "tok")
              .groupBy("query_id", "doc_id")
              .agg(F.count(F.lit(1)).cast("bigint").alias("score")))
    dl = d.select(F.col("doc_id").alias("d2"),
                  F.size(tokens()).cast("bigint")
                  .alias("doc_tokens"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "doc_id")
    ranked = (scored.join(dl, scored.doc_id == dl.d2)
              .select("query_id", "doc_id", "score", "doc_tokens",
                      F.row_number().over(wq).alias("rank"))
              .where(F.col("rank") <= _RAG_TOPK))
    wcum = (Window.partitionBy("query_id").orderBy("rank")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (ranked
              .select("query_id", "doc_id",
                      F.sum("doc_tokens").over(wcum).alias("cum_tokens"))
              .where(F.col("cum_tokens") <= _RAG_BUDGET)
              .select("query_id", "doc_id"))
    ctx_toks = (packed.join(ct, "doc_id")
                .select("query_id", "tok").distinct())
    ans_toks = (d.where(F.col("doc_id") < 10)
                .select(F.col("doc_id").alias("query_id"),
                        F.explode(tokens()).alias("tok"))
                .distinct())
    cov = (ans_toks.join(ctx_toks.withColumn("hit", F.lit(1)),
                         ["query_id", "tok"], "left")
           .groupBy("query_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_answer_toks"),
                F.count("hit").cast("bigint").alias("n_covered")))
    nd_ = packed.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ctx_docs"))
    return (cov.join(nd_, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_ctx_docs", F.lit(0)).cast("bigint")
                    .alias("n_ctx_docs"),
                    "n_answer_toks", "n_covered",
                    (F.col("n_covered").cast("double")
                     / F.col("n_answer_toks").cast("double"))
                    .alias("coverage")))


# ---------------------------------------------------------------------------
# corpus BLEU-2 (clipped n-gram precision, frozen brevity penalty)
# ---------------------------------------------------------------------------

# pred span = tokens[1..12] (12 tokens), gold span = tokens[6..19]
# (14 tokens): the deterministic pred/gold convention of llm_eval_rouge2,
# with UNEQUAL lengths so the brevity penalty is non-trivial.
# BP = exp(1 - 14/12) is a FROZEN literal (the one transcendental);
# BLEU-2 = BP * sqrt(p1 * p2) — sqrt is correctly rounded in both
# engines, so the result is bit-exact with no tolerance.
_BLEU_BP = 0.8464817248906141
_BLEU_PRED_LEN = 12
_BLEU_GOLD_LEN = 14

_BLEU_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 20
), p1g AS (
  SELECT doc_id, unnest(l[1:{_BLEU_PRED_LEN}]) AS g FROM base
), g1g AS (
  SELECT doc_id, unnest(l[6:{5 + _BLEU_GOLD_LEN}]) AS g FROM base
), p2g AS (
  SELECT doc_id, unnest(list_transform(range(1, {_BLEU_PRED_LEN}),
                                       i -> l[i] || ' ' || l[i + 1])) AS g
  FROM base
), g2g AS (
  SELECT doc_id, unnest(list_transform(range(6, {5 + _BLEU_GOLD_LEN}),
                                       i -> l[i] || ' ' || l[i + 1])) AS g
  FROM base
), ov1 AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CAST(SUM(LEAST(COALESCE(a.c, 0), COALESCE(b.c, 0))) AS BIGINT)
           AS o1
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM p1g GROUP BY doc_id, g) a
  FULL OUTER JOIN
       (SELECT doc_id, g, COUNT(*) AS c FROM g1g GROUP BY doc_id, g) b
    ON a.doc_id = b.doc_id AND a.g = b.g
  GROUP BY COALESCE(a.doc_id, b.doc_id)
), ov2 AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CAST(SUM(LEAST(COALESCE(a.c, 0), COALESCE(b.c, 0))) AS BIGINT)
           AS o2
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM p2g GROUP BY doc_id, g) a
  FULL OUTER JOIN
       (SELECT doc_id, g, COUNT(*) AS c FROM g2g GROUP BY doc_id, g) b
    ON a.doc_id = b.doc_id AND a.g = b.g
  GROUP BY COALESCE(a.doc_id, b.doc_id)
)
SELECT ov1.doc_id, ov1.o1 AS n_overlap1, ov2.o2 AS n_overlap2,
       CASE WHEN ov1.o1 = 0 OR ov2.o2 = 0 THEN 0.0
            ELSE {_BLEU_BP!r}
                 * sqrt((CAST(ov1.o1 AS DOUBLE) / {_BLEU_PRED_LEN}.0)
                        * (CAST(ov2.o2 AS DOUBLE)
                           / {_BLEU_PRED_LEN - 1}.0)) END AS bleu2
FROM ov1 JOIN ov2 ON ov1.doc_id = ov2.doc_id
"""


@register("llm_eval_bleu_corpus", oracle=_BLEU_ORACLE)
def llm_eval_bleu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BLEU-2 between the deterministic pred/gold spans
    (the llm_eval_rouge2 convention, but with a 14-token gold so the
    brevity penalty is real): clipped unigram and bigram precisions,
    geometric mean via sqrt (no exp/ln chain for 2 orders), brevity
    penalty frozen as a literal since the span lengths are fixed — the
    generation-eval classic next to ROUGE's recall orientation, fully
    value-exact with zero rounding.

    Scale shape: per-document gram explodes (bounded 12/14 grams/doc),
    two gram-keyed clipped-overlap folds, one doc-keyed join — every
    stage combinable/key-parallel, nothing global."""
    d = load_table(spark, "documents", sf_dir)
    toks = tokens()
    base = (d.where(F.size(toks) >= 20)
            .select("doc_id", toks.alias("l"))
            .localCheckpoint(eager=False))  # four gram branches share it

    def grams(df, start, length, n):
        if n == 1:
            col = F.explode(F.slice("l", start, length))
        else:
            col = F.explode(F.transform(
                F.sequence(F.lit(start), F.lit(start + length - 2)),
                lambda i: F.concat_ws(" ", F.element_at("l", i),
                                      F.element_at("l", i + 1))))
        return (df.select("doc_id", col.alias("g"))
                .groupBy("doc_id", "g")
                .agg(F.count(F.lit(1)).alias("c")))

    def clipped(pred, gold, out):
        a, b = pred.alias("a"), gold.alias("b")
        j = a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                   & (F.col("a.g") == F.col("b.g")), "full")
        return (j.groupBy(F.coalesce(F.col("a.doc_id"), F.col("b.doc_id"))
                          .alias("doc_id"))
                .agg(F.sum(F.least(F.coalesce(F.col("a.c"), F.lit(0)),
                                   F.coalesce(F.col("b.c"), F.lit(0))))
                     .cast("bigint").alias(out)))

    ov1 = clipped(grams(base, 1, _BLEU_PRED_LEN, 1),
                  grams(base, 6, _BLEU_GOLD_LEN, 1), "o1")
    ov2 = clipped(grams(base, 1, _BLEU_PRED_LEN, 2),
                  grams(base, 6, _BLEU_GOLD_LEN, 2), "o2")
    p1 = F.col("o1").cast("double") / F.lit(float(_BLEU_PRED_LEN))
    p2 = F.col("o2").cast("double") / F.lit(float(_BLEU_PRED_LEN - 1))
    bleu = (F.when((F.col("o1") == 0) | (F.col("o2") == 0), F.lit(0.0))
            .otherwise(F.lit(_BLEU_BP) * F.sqrt(p1 * p2)))
    return (ov1.join(ov2, "doc_id")
            .select("doc_id", F.col("o1").alias("n_overlap1"),
                    F.col("o2").alias("n_overlap2"),
                    bleu.alias("bleu2")))


# ---------------------------------------------------------------------------
# exact-integer weighted priority sampling (A-ES / Duffield shape)
# ---------------------------------------------------------------------------

_ARES_K = 200
_ARES_SEED = "lts-r7-priority"

_ARES_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         -- 60-bit uniform from md5; +1 keeps it strictly positive
         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)
                                         || ':{_ARES_SEED}'), 1, 15))
              AS BIGINT) + 1 AS u
  FROM documents WHERE n_chars >= 1
)
SELECT doc_id, weight, CAST(u // weight AS BIGINT) AS priority_key
FROM keyed
ORDER BY priority_key, doc_id
LIMIT {_ARES_K}
"""


@register("llm_sample_ares_topk", oracle=_ARES_ORACLE)
def llm_sample_ares_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sampling WITHOUT replacement (the
    Duffield/Lund/Thorup priority-sample, the exact-arithmetic cousin
    of A-ES reservoir sampling): every document draws a deterministic
    md5 uniform u, its priority is u div weight (longer docs get
    smaller keys, hence higher pick probability), and the sample is
    the global k smallest keys. The division stays INTEGER — no
    u^(1/w) float in sight — so selection is bit-deterministic and
    engine-portable while preserving the estimator's
    weight-proportional inclusion behavior (documented truncation of
    the real-valued key; both engines truncate identically).

    Scale shape: map-side key computation; the global k-smallest is a
    sort-limit that fuses to TakeOrderedAndProject (per-partition
    heaps + a k-row merge — the same shape at any corpus size),
    pinned in test_plans.py."""
    d = load_table(spark, "documents", sf_dir).where(F.col("n_chars") >= 1)
    u = (F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit(f":{_ARES_SEED}"))), 1, 15), 16, 10)
        .cast("bigint") + 1)
    keyed = d.select("doc_id",
                     F.col("n_chars").cast("bigint").alias("weight"),
                     u.alias("u"))
    # u is a 60-bit integer: a double-typed divide would round above
    # 2^53, so the quotient uses SQL's INTEGER div (exact at any width)
    key = F.expr("u div weight").cast("bigint")
    return (keyed.select("doc_id", "weight", key.alias("priority_key"))
            .orderBy("priority_key", "doc_id")
            .limit(_ARES_K))


# ---------------------------------------------------------------------------
# arena-style pairwise win-rate matrix
# ---------------------------------------------------------------------------

_ARENA_SEED = "lts-r7-arena"

_ARENA_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, n_chars,
         CASE WHEN CAST(SUBSTR(source, 4) AS INTEGER) < 4 THEN 'large'
              WHEN CAST(SUBSTR(source, 4) AS INTEGER) < 10 THEN 'medium'
              ELSE 'small' END AS model,
         md5(CAST(doc_id AS VARCHAR) || ':{_ARENA_SEED}') AS skey
  FROM documents
), ranked AS (
  SELECT doc_id, n_chars, model,
         row_number() OVER (ORDER BY skey, doc_id) AS rn
  FROM docs
), battles AS (
  -- deterministic pairing: md5-shuffled rank 2r-1 vs 2r
  SELECT a.model AS ma, b.model AS mb,
         a.n_chars AS ca, b.n_chars AS cb,
         a.doc_id AS da, b.doc_id AS db
  FROM ranked a JOIN ranked b ON b.rn = a.rn + 1 AND a.rn % 2 = 1
), scored AS (
  SELECT LEAST(ma, mb) AS model_a, GREATEST(ma, mb) AS model_b,
         -- winner: longer doc, doc_id tiebreak (documented stand-in
         -- for a reward-model score)
         CASE WHEN (ca > cb) OR (ca = cb AND da < db)
              THEN ma ELSE mb END AS winner
  FROM battles WHERE ma <> mb
)
SELECT model_a, model_b,
       CAST(COUNT(*) AS BIGINT) AS n_battles,
       CAST(COUNT(*) FILTER (WHERE winner = model_a) AS BIGINT)
         AS wins_a,
       CAST(COUNT(*) FILTER (WHERE winner = model_a) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS winrate_a
FROM scored GROUP BY model_a, model_b
"""


@register("llm_eval_pairwise_winrate", oracle=_ARENA_ORACLE)
def llm_eval_pairwise_winrate(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Arena-style pairwise win-rate matrix: documents battle in
    deterministic md5-shuffled pairs (rank 2r−1 vs 2r of the shuffled
    order), each labeled with its source tier as the 'model', and the
    longer document wins (the documented stand-in for a reward-model
    judgment) — the Chatbot-Arena-shaped aggregation every eval
    leaderboard runs, reduced to exact counts and one division per
    model pair. Cross-tier battles only; pairs normalize to
    (min, max) model order so the matrix has one row per unordered
    pair.

    Scale shape: the shuffle rank is the two-pass bucketed rank over
    the md5 key (bucketed.py — no single-partition window at corpus
    scale); pairing is a rank-successor self-join on the rank key; the
    rollup is a ≤3-row fold."""
    d = load_table(spark, "documents", sf_dir)
    docs = d.select("doc_id", "n_chars", _source_tier().alias("model"),
                    F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(f":{_ARENA_SEED}")))
                    .alias("skey"))
    # md5 keys are unique with overwhelming probability; doc_id breaks
    # the measure-zero remainder. Rank via a 2-hex-prefix bucket window
    # (the llm_shuffle_deterministic recipe — skey prefix IS monotone in
    # the skey order, no numeric-domain assumption needed).
    keyed = docs.withColumn("b", F.substring("skey", 1, 2))
    cnt = keyed.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    off = (cnt.alias("x")
           .join(F.broadcast(cnt.alias("y")),
                 F.col("y.b") < F.col("x.b"), "left")
           .groupBy(F.col("x.b").alias("b"))
           .agg(F.coalesce(F.sum("y.cb"), F.lit(0)).alias("off")))
    wrn = Window.partitionBy("b").orderBy("skey", "doc_id")
    ranked = (keyed.join(F.broadcast(off), "b")
              .select("doc_id", "n_chars", "model",
                      (F.col("off") + F.row_number().over(wrn))
                      .cast("bigint").alias("rn")))
    a, b = ranked.alias("a"), ranked.alias("b")
    battles = (a.join(b, (F.col("b.rn") == F.col("a.rn") + 1)
                      & (F.col("a.rn") % 2 == 1))
               .where(F.col("a.model") != F.col("b.model"))
               .select(F.col("a.model").alias("ma"),
                       F.col("b.model").alias("mb"),
                       F.col("a.n_chars").alias("ca"),
                       F.col("b.n_chars").alias("cb"),
                       F.col("a.doc_id").alias("da"),
                       F.col("b.doc_id").alias("db")))
    winner = (F.when((F.col("ca") > F.col("cb"))
                     | ((F.col("ca") == F.col("cb"))
                        & (F.col("da") < F.col("db"))),
                     F.col("ma")).otherwise(F.col("mb")))
    scored = battles.select(
        F.least("ma", "mb").alias("model_a"),
        F.greatest("ma", "mb").alias("model_b"),
        winner.alias("winner"))
    return (scored.groupBy("model_a", "model_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_battles"),
                 F.count(F.when(F.col("winner") == F.col("model_a"), 1))
                 .cast("bigint").alias("wins_a"),
                 (F.count(F.when(F.col("winner") == F.col("model_a"), 1))
                  .cast("double") / F.count(F.lit(1)).cast("double"))
                 .alias("winrate_a")))


# ---------------------------------------------------------------------------
# tool-call parsing audit (structured-output surface)
# ---------------------------------------------------------------------------

_TOOLS = ("search", "calc", "lookup")

_TOOLCALL_ORACLE = """
WITH synth AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 7 = 0 THEN
             '<tool>{"name": "' ||
             ['search', 'calc', 'lookup'][CAST(doc_id % 3 AS INTEGER) + 1]
             || '", "k": ' || CAST(doc_id % 5 AS VARCHAR) || '}</tool>'
           WHEN doc_id % 7 = 1 THEN
             '<tool>{"name": "search", "k": </tool>'
           ELSE ''
         END AS call_str
  FROM documents
), calls AS (
  SELECT doc_id, regexp_extract(call_str, '<tool>(.*)</tool>', 1) AS payload
  FROM synth WHERE call_str <> ''
)
SELECT doc_id,
       json_valid(payload) AS parsed_ok,
       CASE WHEN json_valid(payload)
            THEN json_extract_string(payload, '$.name') END AS tool_name,
       CASE WHEN json_valid(payload)
            THEN CAST(json_extract(payload, '$.k') AS BIGINT) END AS k_arg
FROM calls
"""


@register("llm_tool_call_parse", oracle=_TOOLCALL_ORACLE)
def llm_tool_call_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured tool-call extraction audit — the agent-era parsing
    step: pull the <tool>…</tool> payload out of model output
    (synthesized deterministically: every 7th doc carries a well-formed
    call, every 7th+1 a TRUNCATED one), parse it as JSON with
    null-on-malformed semantics, and report parse success, tool name and
    integer argument per call. Spark's from_json and DuckDB's
    json_valid/json_extract agree exactly on both the well-formed and
    the malformed rows — the audit a tool-use pipeline runs before
    trusting execution.

    Scale shape: pure map-side regexp + JSON parse (whole-stage
    codegen'd JsonToStructs; no UDF); output is call-grain."""
    d = load_table(spark, "documents", sf_dir)
    tool = F.element_at(F.array(*[F.lit(t) for t in _TOOLS]),
                        (F.pmod("doc_id", F.lit(3)) + 1).cast("int"))
    good = F.concat(F.lit('<tool>{"name": "'), tool, F.lit('", "k": '),
                    F.pmod("doc_id", F.lit(5)).cast("string"),
                    F.lit('}</tool>'))
    bad = F.lit('<tool>{"name": "search", "k": </tool>')
    call_str = (F.when(F.pmod("doc_id", F.lit(7)) == 0, good)
                .when(F.pmod("doc_id", F.lit(7)) == 1, bad)
                .otherwise(F.lit("")))
    calls = (d.select("doc_id", call_str.alias("call_str"))
             .where(F.col("call_str") != "")
             .select("doc_id",
                     F.regexp_extract("call_str", "<tool>(.*)</tool>", 1)
                     .alias("payload")))
    parsed = calls.select(
        "doc_id",
        F.from_json("payload", "name string, k bigint").alias("j"))
    return parsed.select(
        "doc_id",
        F.col("j.name").isNotNull().alias("parsed_ok"),
        F.col("j.name").alias("tool_name"),
        F.col("j.k").alias("k_arg"))


# ---------------------------------------------------------------------------
# vocabulary growth (Heaps-law) curve
# ---------------------------------------------------------------------------

_HEAPS_SLICES = 10

_HEAPS_ORACLE = f"""
WITH mx AS (
  SELECT CAST(MAX(doc_id) AS BIGINT) AS m FROM documents
), toks AS (
  SELECT LEAST({_HEAPS_SLICES - 1},
               (d.doc_id * {_HEAPS_SLICES}) // (mx.m + 1)) AS slice,
         unnest(string_split(d.text, ' ')) AS tok
  FROM documents d CROSS JOIN mx
), per_slice AS (
  SELECT slice, CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks GROUP BY slice
), first_seen AS (
  SELECT tok, CAST(MIN(slice) AS BIGINT) AS s0 FROM toks GROUP BY tok
), vocab_new AS (
  SELECT s0 AS slice, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM first_seen GROUP BY s0
), curve AS (
  SELECT p.slice,
         CAST(SUM(p.n_tok) OVER w AS BIGINT) AS cum_tokens,
         CAST(SUM(COALESCE(v.n_new, 0)) OVER w AS BIGINT) AS cum_vocab
  FROM per_slice p LEFT JOIN vocab_new v ON p.slice = v.slice
  WINDOW w AS (ORDER BY p.slice ROWS UNBOUNDED PRECEDING)
), fit AS (
  -- + 0.0 normalizes IEEE -0.0 (a saturated curve's slope is ±1e-17
  -- noise whose SIGN is engine-dependent; the magnitude rounds away)
  SELECT round(regr_slope(ln(CAST(cum_vocab AS DOUBLE)),
                          ln(CAST(cum_tokens AS DOUBLE))), 6) + 0.0 AS beta
  FROM curve
)
SELECT CAST(curve.slice AS BIGINT) AS slice, cum_tokens, cum_vocab,
       fit.beta AS heaps_beta
FROM curve CROSS JOIN fit
"""


@register("llm_vocab_growth_heaps", oracle=_HEAPS_ORACLE)
def llm_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: cumulative distinct tokens
    vs cumulative token volume across ten corpus prefixes, plus the
    fitted log-log slope β (V ≈ k·Nᵝ) — the does-more-data-still-add-
    content readout a training-data budget reads before the next crawl
    (β near 1 = fresh content, β near 0 = saturation). The curve needs
    NO per-prefix distinct passes: each token folds to its FIRST slice
    (one groupBy), new-vocab counts cumulate over the 10-slice spine,
    and the β fit is regr_slope over 10 log points, rounded 6 dp.

    Scale shape: two token-grain folds (the per-slice count and the
    combinable first-slice min), each fed by its own scan and partially
    aggregated right after the tokenize, so no raw token is shuffled or
    materialised; one 10-row spine."""
    d = load_table(spark, "documents", sf_dir)
    mx = d.agg(F.max("doc_id").cast("bigint").alias("m"))
    sl = F.least(F.lit(_HEAPS_SLICES - 1),
                 F.floor(F.col("doc_id") * _HEAPS_SLICES
                         / (F.col("m") + 1))).cast("bigint")
    toks = (d.crossJoin(F.broadcast(mx))
            .select(sl.alias("slice"),
                    F.explode(tokens()).alias("tok")))
    per_slice = toks.groupBy("slice").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    vocab_new = (toks.groupBy("tok")
                 .agg(F.min("slice").cast("bigint").alias("s0"))
                 .groupBy(F.col("s0").alias("slice"))
                 .agg(F.count(F.lit(1)).cast("bigint").alias("n_new")))
    wc = Window.orderBy("slice").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    curve = (per_slice.join(vocab_new, "slice", "left")
             .select("slice",
                     F.sum("n_tok").over(wc).cast("bigint")
                     .alias("cum_tokens"),
                     F.sum(F.coalesce("n_new", F.lit(0))).over(wc)
                     .cast("bigint").alias("cum_vocab")))
    # + 0.0 normalizes IEEE -0.0 (saturated curve => ±1e-17 slope noise
    # whose sign is engine-dependent; magnitude rounds away)
    fit = curve.agg((F.round(
        F.regr_slope(F.log(F.col("cum_vocab").cast("double")),
                     F.log(F.col("cum_tokens").cast("double"))), 6) + 0.0)
        .alias("beta"))
    return (curve.crossJoin(F.broadcast(fit))
            .select("slice", "cum_tokens", "cum_vocab",
                    F.col("beta").alias("heaps_beta")))


# ---------------------------------------------------------------------------
# UMass topic coherence over per-language top terms
# ---------------------------------------------------------------------------

_UMASS_TOPK = 5

_UMASS_ORACLE = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
  FROM documents
), df AS (
  SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d
  FROM dt GROUP BY tok
), top_terms AS (
  SELECT lang, tok, d, rk FROM (
    SELECT l.lang, l.tok, f.d,
           row_number() OVER (PARTITION BY l.lang
                              ORDER BY l.ld DESC, l.tok) AS rk
    FROM (SELECT lang, tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ld
          FROM dt GROUP BY lang, tok) l
    JOIN df f ON l.tok = f.tok
  ) WHERE rk <= {_UMASS_TOPK}
), co AS (
  SELECT a.lang, a.rk AS ri, b.rk AS rj, a.tok AS wi, b.tok AS wj, b.d AS dj,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM
            (SELECT doc_id FROM dt x WHERE x.tok = a.tok
             INTERSECT
             SELECT doc_id FROM dt y WHERE y.tok = b.tok) t) AS dij
  FROM top_terms a JOIN top_terms b
    ON a.lang = b.lang AND a.rk < b.rk
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(list_sum(list(ln((CAST(dij AS DOUBLE) + 1.0)
                              / CAST(dj AS DOUBLE))
                           ORDER BY ri, rj)), 6) AS umass_coherence
FROM co GROUP BY lang
"""


@register("llm_topic_coherence_umass", oracle=_UMASS_ORACLE)
def llm_topic_coherence_umass(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """UMass topic coherence for each language's top-5 document-
    frequency terms — the do-these-terms-actually-co-occur score that
    separates a real topic from a frequency artifact (the standard
    evaluation next to llm_cluster_topic_terms' c-TF-IDF labels):
    C = Σ_{{i<j}} ln((D(wᵢ,wⱼ)+1)/D(wⱼ)) over the rank-ordered pairs.
    Doc frequencies and co-frequencies are exact counts; the ≤10-term
    fold per language runs in FIXED pair order (the ANOVA rule) and
    rounds 6 dp after the one ln chain.

    Scale shape: one (doc, token) distinct fold; top terms per language
    are a partitioned window over language-bounded term lists;
    co-occurrence joins the ≤25-row term-pair spine against the
    doc-token table (broadcast spine, corpus-side combinable count)."""
    d = load_table(spark, "documents", sf_dir)
    dt = (d.select("doc_id", "lang",
                   F.explode(tokens()).alias("tok"))
          .distinct())
    df = dt.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("d"))
    ld = dt.groupBy("lang", "tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("ld"))
    wl = Window.partitionBy("lang").orderBy(F.col("ld").desc(), "tok")
    top = (ld.join(df, "tok")
           .select("lang", "tok", "d",
                   F.row_number().over(wl).alias("rk"))
           .where(F.col("rk") <= _UMASS_TOPK))
    a = top.select("lang", F.col("rk").alias("ri"),
                   F.col("tok").alias("wi"))
    b = top.select(F.col("lang").alias("lb"), F.col("rk").alias("rj"),
                   F.col("tok").alias("wj"), F.col("d").alias("dj"))
    spine = a.join(b, (F.col("lang") == F.col("lb"))
                   & (F.col("ri") < F.col("rj"))).drop("lb")
    # co-document counts: join the pair spine to the doc-token table on
    # BOTH terms (two corpus-side semi-shaped joins, spine broadcast)
    d1 = dt.select(F.col("doc_id").alias("da"), F.col("tok").alias("wi"))
    d2 = dt.select(F.col("doc_id").alias("db"), F.col("tok").alias("wj2"))
    co = (spine.join(d1, "wi")
          .join(d2, (F.col("wj") == F.col("wj2"))
                & (F.col("da") == F.col("db")))
          .groupBy("lang", "ri", "rj", "wj", "dj")
          .agg(F.count(F.lit(1)).cast("bigint").alias("dij")))
    term = F.log((F.col("dij").cast("double") + F.lit(1.0))
                 / F.col("dj").cast("double"))
    return (co.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.round(ordered_fold(["ri", "rj"], term), 6)
                 .alias("umass_coherence")))


# ---------------------------------------------------------------------------
# self-BLEU corpus diversity audit
# ---------------------------------------------------------------------------

_SBLEU_N = 40
_SBLEU_Q = 1_000_000_000

_SELF_BLEU_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE doc_id < {_SBLEU_N} AND len(string_split(text, ' ')) >= 20
), p1 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(l[1:{_BLEU_PRED_LEN}]) AS g FROM base)
  GROUP BY doc_id, g
), p2 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(range(1, {_BLEU_PRED_LEN}),
                                         i -> l[i] || ' ' || l[i + 1])) AS g
    FROM base) GROUP BY doc_id, g
), g1 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(l[6:{5 + _BLEU_GOLD_LEN}]) AS g FROM base)
  GROUP BY doc_id, g
), g2 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(range(6, {5 + _BLEU_GOLD_LEN}),
                                         i -> l[i] || ' ' || l[i + 1])) AS g
    FROM base) GROUP BY doc_id, g
), ov1 AS (
  SELECT p.doc_id AS a, r.doc_id AS b,
         CAST(SUM(LEAST(p.c, r.c)) AS BIGINT) AS o1
  FROM p1 p JOIN g1 r ON p.g = r.g AND p.doc_id <> r.doc_id
  GROUP BY p.doc_id, r.doc_id
), ov2 AS (
  SELECT p.doc_id AS a, r.doc_id AS b,
         CAST(SUM(LEAST(p.c, r.c)) AS BIGINT) AS o2
  FROM p2 p JOIN g2 r ON p.g = r.g AND p.doc_id <> r.doc_id
  GROUP BY p.doc_id, r.doc_id
), pair_bleu AS (
  SELECT ov1.a,
         CAST(round({_BLEU_BP!r}
              * sqrt((CAST(ov1.o1 AS DOUBLE) / {_BLEU_PRED_LEN}.0)
                     * (CAST(COALESCE(ov2.o2, 0) AS DOUBLE)
                        / {_BLEU_PRED_LEN - 1}.0)) * {_SBLEU_Q}, 0)
              AS BIGINT) AS q
  FROM ov1 LEFT JOIN ov2 ON ov1.a = ov2.a AND ov1.b = ov2.b
), nref AS (
  SELECT CAST(COUNT(*) AS BIGINT) - 1 AS m FROM base
)
SELECT a AS doc_id, MAX(nref.m) AS n_refs,
       CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE)
         / ({_SBLEU_Q}.0 * CAST(MAX(nref.m) AS DOUBLE)) AS mean_self_bleu
FROM pair_bleu CROSS JOIN nref
GROUP BY a
"""


@register("llm_self_bleu_diversity", oracle=_SELF_BLEU_ORACLE)
def llm_self_bleu_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU diversity audit on a bounded doc_id < 40 slice: each
    document's BLEU-2 against every OTHER document as reference,
    averaged — the standard homogeneity alarm for generated corpora
    (high self-BLEU = mode collapse; the diversity counterpart of the
    dedup family's near-duplicate rate). Pairs with zero unigram
    overlap contribute 0 by omission (the LEFT-join/COALESCE spelling is
    identical in both engines); each pair's BLEU quantizes to 1e-9
    units so the per-document mean over 39 references is an associative
    integer fold (the DFT discipline).

    Scale shape: the audit slice is FIXED (40 docs → 1,560 pairs) no
    matter the corpus; gram tables are per-doc bounded; overlap joins
    are gram-keyed."""
    d = load_table(spark, "documents", sf_dir)
    toks = tokens()
    base = (d.where((F.col("doc_id") < _SBLEU_N) & (F.size(toks) >= 20))
            .select("doc_id", toks.alias("l"))
            .localCheckpoint(eager=False))

    def grams(start, length, n, side):
        if n == 1:
            col = F.explode(F.slice("l", start, length))
        else:
            col = F.explode(F.transform(
                F.sequence(F.lit(start), F.lit(start + length - 2)),
                lambda i: F.concat_ws(" ", F.element_at("l", i),
                                      F.element_at("l", i + 1))))
        return (base.select(F.col("doc_id").alias(side), col.alias("g"))
                .groupBy(side, "g").agg(F.count(F.lit(1)).alias("c")))

    def overlap(pred, ref, out):
        p, r = pred.alias("p"), ref.alias("r")
        return (p.join(r, (F.col("p.g") == F.col("r.g"))
                       & (F.col("p.a") != F.col("r.b")))
                .groupBy("p.a", "r.b")
                .agg(F.sum(F.least(F.col("p.c"), F.col("r.c")))
                     .cast("bigint").alias(out)))

    ov1 = overlap(grams(1, _BLEU_PRED_LEN, 1, "a"),
                  grams(6, _BLEU_GOLD_LEN, 1, "b"), "o1")
    ov2 = overlap(grams(1, _BLEU_PRED_LEN, 2, "a"),
                  grams(6, _BLEU_GOLD_LEN, 2, "b"), "o2")
    p1 = F.col("o1").cast("double") / F.lit(float(_BLEU_PRED_LEN))
    p2 = (F.coalesce(F.col("o2"), F.lit(0)).cast("double")
          / F.lit(float(_BLEU_PRED_LEN - 1)))
    q = F.round(F.lit(_BLEU_BP) * F.sqrt(p1 * p2) * F.lit(_SBLEU_Q), 0) \
        .cast("bigint")
    nref = base.agg((F.count(F.lit(1)) - 1).cast("bigint").alias("m"))
    pair = (ov1.join(ov2, ["a", "b"], "left")
            .select("a", q.alias("q")))
    return (pair.crossJoin(F.broadcast(nref))
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.max("m").alias("n_refs"),
                 (F.sum("q").cast("bigint").cast("double")
                  / (F.lit(float(_SBLEU_Q)) * F.max("m").cast("double")))
                 .alias("mean_self_bleu")))


# ---------------------------------------------------------------------------
# expected calibration error (ECE)
# ---------------------------------------------------------------------------

_ECE_ORACLE = f"""
WITH c AS (
  SELECT event_type = 'purchase' AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('click', 'purchase')
), mx AS (
  SELECT CAST(MAX(xc) AS BIGINT) AS m FROM c
), binned AS (
  SELECT LEAST({_CAL_BINS - 1}, (xc * {_CAL_BINS}) // (m + 1)) AS bin,
         xc, pos, m
  FROM c CROSS JOIN mx
), bins AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(SUM(xc) AS BIGINT) AS sx,
         CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS npos,
         CAST(MAX(m) AS BIGINT) AS m
  FROM binned GROUP BY bin
), tot AS (
  SELECT CAST(SUM(nb) AS BIGINT) AS n FROM bins
)
SELECT tot.n, CAST(COUNT(*) AS BIGINT) AS n_bins,
       round(list_sum(list(
         (CAST(nb AS DOUBLE) / CAST(tot.n AS DOUBLE))
         * abs(CAST(sx AS DOUBLE)
                 / (CAST(nb AS DOUBLE) * CAST(m AS DOUBLE))
               - CAST(npos AS DOUBLE) / CAST(nb AS DOUBLE))
         ORDER BY bin)), 6) AS ece
FROM bins CROSS JOIN tot GROUP BY tot.n
"""


@register("llm_eval_ece", oracle=_ECE_ORACLE)
def llm_eval_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error — ml_calibration_reliability's table
    collapsed to the one number model cards report: the bin-weighted
    mean |predicted − observed| gap over the same ten fixed-width bins.
    The ≤10-term cross-bin fold runs in FIXED bin order (the ANOVA
    rule) and rounds 6 dp; every input to each term is an exact
    integer ratio.

    Scale shape: identical to the reliability table (broadcast max +
    one 10-group combinable fold) plus a 10-row ordered fold."""
    bins = _calibration_bins(spark, sf_dir).groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("xc").cast("bigint").alias("sx"),
        F.count(F.when(F.col("pos"), 1)).cast("bigint").alias("npos"),
        F.max("m").cast("bigint").alias("m"))
    tot = bins.agg(F.sum("nb").cast("bigint").alias("n"))
    term = ((F.col("nb").cast("double") / F.col("n").cast("double"))
            * F.abs(F.col("sx").cast("double")
                    / (F.col("nb").cast("double")
                       * F.col("m").cast("double"))
                    - F.col("npos").cast("double")
                    / F.col("nb").cast("double")))
    return (bins.crossJoin(F.broadcast(tot))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bins"),
                 F.round(ordered_fold(["bin"], term), 6)
                 .alias("ece")))


# ---------------------------------------------------------------------------
# whitespace / casefold canonical dedup
# ---------------------------------------------------------------------------

_WS_ORACLE = """
WITH mutated AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  -- deterministic near-copies: every 11th doc re-ingested uppercased
  -- with doubled spaces (the crawl-recrawl artifact)
  SELECT doc_id + 1000000, upper(replace(text, ' ', '  '))
  FROM documents WHERE doc_id % 11 = 0
), canon AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
  FROM mutated
), grp AS (
  SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS keeper,
         CAST(COUNT(*) AS BIGINT) AS n_members
  FROM canon GROUP BY fp
)
SELECT c.doc_id, g.keeper AS keeper_id, g.n_members,
       c.doc_id <> g.keeper AS is_dup
FROM canon c JOIN grp g ON c.fp = g.fp
WHERE g.n_members > 1
"""


@register("llm_dedup_whitespace_casefold", oracle=_WS_ORACLE)
def llm_dedup_whitespace_casefold(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Canonical-form dedup for the cheapest near-duplicate class a
    crawler produces: case and whitespace variants of the same bytes
    (a re-crawl through a different renderer). The canonicalizer is
    lower + collapse-runs-of-spaces + trim → md5 fingerprint; keep-first
    survivorship; deterministic mutated copies (every 11th doc
    uppercased with doubled spaces) prove the canonicalization actually
    fires. Sits BETWEEN llm_dedup_exact (byte-exact) and the MinHash
    family (semantic) in the dedup ladder — at crawl scale this single
    map-side normalize removes a large share of dups before any
    banding cost.

    Scale shape: pure map-side canonicalization + one fingerprint-keyed
    fold + one same-key decoration join — the llm_dedup_exact shape
    with a normalizer in front."""
    d = load_table(spark, "documents", sf_dir)
    mutated = d.select("doc_id", "text").unionAll(
        d.where(F.pmod("doc_id", F.lit(11)) == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.upper(F.regexp_replace("text", " ", "  "))
                .alias("text")))
    canon = mutated.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.regexp_replace("text", " +", " "))))
        .alias("fp"))
    grp = canon.groupBy("fp").agg(
        F.min("doc_id").cast("bigint").alias("keeper"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"))
    return (canon.join(grp, "fp")
            .where(F.col("n_members") > 1)
            .select("doc_id", F.col("keeper").alias("keeper_id"),
                    "n_members",
                    (F.col("doc_id") != F.col("keeper")).alias("is_dup")))


# ---------------------------------------------------------------------------
# weighted priority sampling, k PER GROUP
# ---------------------------------------------------------------------------

_ARES_GRP_K = 20

_ARES_GRP_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)
                                         || ':{_ARES_SEED}'), 1, 15))
              AS BIGINT) + 1 AS u
  FROM documents WHERE n_chars >= 1
), ranked AS (
  SELECT doc_id, lang, weight,
         CAST(u // weight AS BIGINT) AS priority_key,
         row_number() OVER (PARTITION BY lang
                            ORDER BY u // weight, doc_id) AS rk
  FROM keyed
)
SELECT doc_id, lang, weight, priority_key,
       CAST(rk AS BIGINT) AS sample_rank
FROM ranked WHERE rk <= {_ARES_GRP_K}
"""


@register("llm_sample_ares_per_group", oracle=_ARES_GRP_ORACLE)
def llm_sample_ares_per_group(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Weighted priority sampling, k=20 PER LANGUAGE — the stratified
    form of llm_sample_ares_topk (same exact-integer u div weight keys,
    same seed), which is how a mixture-controlled corpus actually
    samples: every stratum keeps its own weighted without-replacement
    winners instead of letting one dominant language absorb the global
    budget. The per-group k-smallest is a language-partitioned window
    (Spark plans it as WindowGroupLimit: per-partition heaps, the
    filter pushed into the shuffle).

    Scale shape: map-side integer keys; one language-partitioned
    rank-limit window (key-parallel, never single-partition);
    output is k×languages rows."""
    d = load_table(spark, "documents", sf_dir).where(F.col("n_chars") >= 1)
    u = (F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit(f":{_ARES_SEED}"))), 1, 15), 16, 10)
        .cast("bigint") + 1)
    keyed = d.select("doc_id", "lang",
                     F.col("n_chars").cast("bigint").alias("weight"),
                     u.alias("u"))
    key = F.expr("u div weight").cast("bigint")
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    return (keyed.select("doc_id", "lang", "weight",
                         key.alias("priority_key"),
                         F.row_number().over(w).cast("bigint")
                         .alias("sample_rank"))
            .where(F.col("sample_rank") <= _ARES_GRP_K))


# ---------------------------------------------------------------------------
# mixture-vs-target KL report
# ---------------------------------------------------------------------------

# frozen TARGET token mixture over source tiers (the training-recipe
# number a data team commits to before the run)
_MIX_TARGET = (("large", 0.5), ("medium", 0.3), ("small", 0.2))

_MIX_KL_ORACLE = f"""
WITH toks AS (
  SELECT CASE WHEN CAST(SUBSTR(source, 4) AS INTEGER) < 4 THEN 'large'
              WHEN CAST(SUBSTR(source, 4) AS INTEGER) < 10 THEN 'medium'
              ELSE 'small' END AS tier,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), actual AS (
  SELECT tier, CAST(SUM(n_tok) AS BIGINT) AS tok FROM toks GROUP BY tier
), tgt(tier, target_share) AS (
  VALUES {", ".join(f"('{t}', {w!r})" for t, w in _MIX_TARGET)}
), tot AS (
  SELECT CAST(SUM(tok) AS BIGINT) AS n FROM actual
), rows_ AS (
  SELECT a.tier, a.tok,
         CAST(a.tok AS DOUBLE) / CAST(tot.n AS DOUBLE) AS actual_share,
         tgt.target_share,
         CAST(a.tok AS DOUBLE) / CAST(tot.n AS DOUBLE)
           * ln((CAST(a.tok AS DOUBLE) / CAST(tot.n AS DOUBLE))
                / tgt.target_share) AS kl_term
  FROM actual a JOIN tgt ON a.tier = tgt.tier CROSS JOIN tot
), kl AS (
  SELECT round(list_sum(list(kl_term ORDER BY tier)), 6) AS kl
  FROM rows_
)
SELECT rows_.tier, rows_.tok AS n_tokens, rows_.actual_share,
       rows_.target_share, rows_.actual_share - rows_.target_share
         AS share_gap,
       kl.kl AS mixture_kl
FROM rows_ CROSS JOIN kl
"""


@register("llm_mixture_kl_report", oracle=_MIX_KL_ORACLE)
def llm_mixture_kl_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mixture drift report: the corpus's ACTUAL token share per
    source tier against the FROZEN target recipe (50/30/20), per-tier
    gaps plus the one-number KL(actual ‖ target) — the dashboard a
    mixture-controlled training run watches between crawls
    (llm_domain_mix counts documents; training budgets are TOKENS).
    Shares are exact integer ratios; the 3-term KL folds in fixed tier
    order and rounds 6 dp after the one ln chain.

    Scale shape: one combinable map-side token fold to 3 tiers;
    everything after runs on 3 rows."""
    d = load_table(spark, "documents", sf_dir)
    actual = (d.select(_source_tier().alias("tier"),
                       F.size(tokens()).cast("bigint").alias("n_tok"))
              .groupBy("tier")
              .agg(F.sum("n_tok").cast("bigint").alias("tok")))
    tgt = spark.createDataFrame(list(_MIX_TARGET),
                                "tier string, target_share double")
    tot = actual.agg(F.sum("tok").cast("bigint").alias("n"))
    share = F.col("tok").cast("double") / F.col("n").cast("double")
    rows_ = (actual.join(F.broadcast(tgt), "tier")
             .crossJoin(F.broadcast(tot))
             .select("tier", "tok", share.alias("actual_share"),
                     "target_share",
                     (share * F.log(share / F.col("target_share")))
                     .alias("kl_term")))
    kl = rows_.agg(
        F.round(ordered_fold(["tier"], F.col("kl_term")), 6).alias("kl"))
    return (rows_.crossJoin(F.broadcast(kl))
            .select("tier", F.col("tok").alias("n_tokens"),
                    "actual_share", "target_share",
                    (F.col("actual_share") - F.col("target_share"))
                    .alias("share_gap"),
                    F.col("kl").alias("mixture_kl")))


# ---------------------------------------------------------------------------
# template-prefix duplicate detector
# ---------------------------------------------------------------------------

_PREFIX_TOKS = 4

_TEMPLATE_PREFIX_ORACLE = f"""
WITH seeded AS (
  -- deterministic template planting (every 9th doc gets one of three
  -- canned 4-token openers -- the curation_v2 injection discipline):
  -- the detector must demonstrably FIRE, not report vacuous zeros
  SELECT doc_id, lang,
         CASE WHEN doc_id % 9 = 0 THEN
           ['dear valued customer regarding',
            'click here to claim',
            'limited time offer for'][CAST((doc_id // 9) % 3 AS INTEGER) + 1]
           || ' ' || text
         ELSE text END AS text
  FROM documents
), pre AS (
  SELECT doc_id, lang,
         md5(array_to_string(string_split(text, ' ')[1:{_PREFIX_TOKS}],
                             ' ')) AS pfx
  FROM seeded WHERE len(string_split(text, ' ')) >= {_PREFIX_TOKS}
), grp AS (
  SELECT pfx, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(MIN(doc_id) AS BIGINT) AS exemplar
  FROM pre GROUP BY pfx
)
SELECT pfx AS prefix_md5, n_docs, n_langs, exemplar
FROM grp WHERE n_docs >= 5
"""


@register("llm_dedup_template_prefix", oracle=_TEMPLATE_PREFIX_ORACLE)
def llm_dedup_template_prefix(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Template-prefix detector: documents sharing their first four
    tokens, grouped by prefix fingerprint and reported where ≥5 docs
    share it — the same-boilerplate-different-fill pattern (form
    letters, scraped templates, SEO spam) that whole-document and
    paragraph dedup both miss because the FILL differs; the cross-lang
    count flags machine-templated multilingual spam. Keep decisions
    stay with the survivorship op — this is the detector feeding it.

    Deterministic template planting (every 9th doc gets one of three
    canned openers, the curation_v2 injection discipline) guarantees
    the detector demonstrably fires at every scale factor instead of
    reporting vacuous zeros.

    Scale shape: map-side prefix fingerprint + one combinable fold —
    the llm_dedup_exact shape on a 4-token key."""
    d = load_table(spark, "documents", sf_dir)
    openers = ["dear valued customer regarding",
               "click here to claim",
               "limited time offer for"]
    # doc_id % 9 == 0 forces doc_id % 3 == 0, so variety keys on the
    # QUOTIENT: (doc_id div 9) % 3 rotates through all three openers
    opener = F.element_at(F.array(*[F.lit(o) for o in openers]),
                          (F.pmod(F.floor(F.col("doc_id") / 9), F.lit(3))
                           + 1).cast("int"))
    text = (F.when(F.pmod("doc_id", F.lit(9)) == 0,
                   F.concat_ws(" ", opener, F.col("text")))
            .otherwise(F.col("text")))
    seeded = d.select("doc_id", "lang", text.alias("text"))
    toks = tokens()
    pre = (seeded.where(F.size(toks) >= _PREFIX_TOKS)
           .select("doc_id", "lang",
                   F.md5(F.concat_ws(" ",
                                     F.slice(toks, 1, _PREFIX_TOKS)))
                   .alias("pfx")))
    return (pre.groupBy("pfx")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("lang").cast("bigint").alias("n_langs"),
                 F.min("doc_id").cast("bigint").alias("exemplar"))
            .where(F.col("n_docs") >= 5)
            .select(F.col("pfx").alias("prefix_md5"), "n_docs",
                    "n_langs", "exemplar"))


# ---------------------------------------------------------------------------
# distinct-n generation-diversity metrics
# ---------------------------------------------------------------------------

_DISTINCT_N_ORACLE = """
WITH toks AS (
  SELECT CASE WHEN CAST(SUBSTR(source, 4) AS INTEGER) < 4 THEN 'large'
              WHEN CAST(SUBSTR(source, 4) AS INTEGER) < 10 THEN 'medium'
              ELSE 'small' END AS tier,
         string_split(text, ' ') AS l
  FROM documents
), uni AS (
  SELECT tier, unnest(l) AS g FROM toks
), bi AS (
  SELECT tier, unnest(list_transform(range(1, len(l)),
                                     i -> l[i] || ' ' || l[i + 1])) AS g
  FROM toks WHERE len(l) >= 2
), s1 AS (
  SELECT tier, CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS d1
  FROM uni GROUP BY tier
), s2 AS (
  SELECT tier, CAST(COUNT(*) AS BIGINT) AS n2,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS d2
  FROM bi GROUP BY tier
)
SELECT s1.tier, s1.n1 AS n_unigrams, s1.d1 AS distinct_unigrams,
       s2.n2 AS n_bigrams, s2.d2 AS distinct_bigrams,
       CAST(s1.d1 AS DOUBLE) / CAST(s1.n1 AS DOUBLE) AS distinct_1,
       CAST(s2.d2 AS DOUBLE) / CAST(s2.n2 AS DOUBLE) AS distinct_2
FROM s1 JOIN s2 ON s1.tier = s2.tier
"""


@register("llm_eval_distinct_n", oracle=_DISTINCT_N_ORACLE)
def llm_eval_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1 / distinct-2 diversity per source tier: unique
    n-grams over total n-grams — the standard lexical-diversity score
    for generated text (low distinct-2 = repetitive generations), the
    corpus-level companion to llm_self_bleu_diversity's pairwise view
    and llm_repetition_score's per-document one. Exact counts, one
    division per metric.

    Scale shape: two gram-grain combinable count-distinct folds per
    tier; a 3-row join."""
    d = load_table(spark, "documents", sf_dir)
    base = d.select(_source_tier().alias("tier"), tokens().alias("l")) \
        .localCheckpoint(eager=False)  # both gram grains share it
    uni = base.select("tier", F.explode("l").alias("g"))
    bi = (base.where(F.size("l") >= 2)
          .select("tier", F.explode(F.transform(
              F.sequence(F.lit(1), F.size("l") - 1),
              lambda i: F.concat_ws(" ", F.element_at("l", i),
                                    F.element_at("l", i + 1))))
              .alias("g")))
    s1 = uni.groupBy("tier").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.countDistinct("g").cast("bigint").alias("d1"))
    s2 = bi.groupBy("tier").agg(
        F.count(F.lit(1)).cast("bigint").alias("n2"),
        F.countDistinct("g").cast("bigint").alias("d2"))
    return (s1.join(s2, "tier")
            .select("tier", F.col("n1").alias("n_unigrams"),
                    F.col("d1").alias("distinct_unigrams"),
                    F.col("n2").alias("n_bigrams"),
                    F.col("d2").alias("distinct_bigrams"),
                    (F.col("d1").cast("double") / F.col("n1").cast("double"))
                    .alias("distinct_1"),
                    (F.col("d2").cast("double") / F.col("n2").cast("double"))
                    .alias("distinct_2")))


# ---------------------------------------------------------------------------
# chrF generation-eval score (character n-gram F-beta)
# ---------------------------------------------------------------------------

# pred span = tokens[1..12], gold span = tokens[6..19] (1-indexed) -- the
# llm_eval_bleu_corpus convention, re-joined to STRINGS so the grams are
# CHARACTER n-grams (n = 1..3, uniform weights, beta = 2: recall-weighted,
# the chrF paper's default).
_CHRF_PRED_LEN = 12
_CHRF_GOLD_LEN = 14

_CHRF_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         array_to_string(l[1:{_CHRF_PRED_LEN}], ' ') AS ps,
         array_to_string(l[6:{5 + _CHRF_GOLD_LEN}], ' ') AS gs
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
  WHERE len(l) >= 20
), ns AS (
  SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS ng
), pg AS (
  SELECT doc_id, ng, g, CAST(COUNT(*) AS BIGINT) AS pc
  FROM (
    SELECT b.doc_id, ns.ng,
           unnest(list_transform(range(1, len(b.ps) - CAST(ns.ng AS INTEGER) + 2),
                                 i -> substr(b.ps, i, CAST(ns.ng AS INTEGER)))) AS g
    FROM base b CROSS JOIN ns
  ) GROUP BY doc_id, ng, g
), gg AS (
  SELECT doc_id, ng, g, CAST(COUNT(*) AS BIGINT) AS gc
  FROM (
    SELECT b.doc_id, ns.ng,
           unnest(list_transform(range(1, len(b.gs) - CAST(ns.ng AS INTEGER) + 2),
                                 i -> substr(b.gs, i, CAST(ns.ng AS INTEGER)))) AS g
    FROM base b CROSS JOIN ns
  ) GROUP BY doc_id, ng, g
), ov AS (
  SELECT pg.doc_id, pg.ng,
         CAST(SUM(least(pg.pc, gg.gc)) AS BIGINT) AS o
  FROM pg JOIN gg ON pg.doc_id = gg.doc_id AND pg.ng = gg.ng
                  AND pg.g = gg.g
  GROUP BY pg.doc_id, pg.ng
), per_n AS (
  SELECT base.doc_id, ns.ng,
         COALESCE(ov.o, 0) AS o,
         len(base.ps) - ns.ng + 1 AS tp,
         len(base.gs) - ns.ng + 1 AS tg
  FROM base CROSS JOIN ns
  LEFT JOIN ov ON ov.doc_id = base.doc_id AND ov.ng = ns.ng
), pr AS (
  SELECT doc_id,
         (MAX(CASE WHEN ng = 1 THEN CAST(o AS DOUBLE) / tp END)
          + MAX(CASE WHEN ng = 2 THEN CAST(o AS DOUBLE) / tp END)
          + MAX(CASE WHEN ng = 3 THEN CAST(o AS DOUBLE) / tp END)) / 3.0
           AS p,
         (MAX(CASE WHEN ng = 1 THEN CAST(o AS DOUBLE) / tg END)
          + MAX(CASE WHEN ng = 2 THEN CAST(o AS DOUBLE) / tg END)
          + MAX(CASE WHEN ng = 3 THEN CAST(o AS DOUBLE) / tg END)) / 3.0
           AS r
  FROM per_n GROUP BY doc_id
)
SELECT doc_id, round(p, 6) AS chr_p, round(r, 6) AS chr_r,
       CASE WHEN 4.0 * p + r = 0.0 THEN 0.0
            ELSE round(5.0 * p * r / (4.0 * p + r), 6) END AS chrf2
FROM pr
"""


@register("llm_eval_chrf", oracle=_CHRF_ORACLE)
def llm_eval_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF2 generation-eval score per document: CHARACTER-n-gram
    (n = 1..3) clipped precision/recall between the deterministic
    pred/gold spans, folded to the recall-weighted F-beta (β = 2) —
    the tokenization-free metric beside word-gram BLEU/ROUGE (chrF
    sees morphology BLEU misses: 'run' vs 'running' share 3 of 4
    character grams but zero word grams). Clipped overlaps are exact
    integer min-folds per (doc, n, gram); per-n totals are CLOSED FORM
    (len − n + 1, no second gram pass); the 3-term precision/recall
    means are fixed-order trees.

    Scale shape: per-side bounded gram streams (spans are fixed 12/14
    tokens, so ≤ ~100 chars/doc/n) generated by posexplode over a
    POSITION sequence (codegen-friendly; the higher-order
    transform-of-substrings form is interpreted per element and
    measured 2× slower) feeding ONE combinable (doc, n, gram) count
    shuffle with a side flag; the clipped overlap is
    least(pred_count, gold_count) INSIDE that aggregate, so there is
    no gram-keyed join at all, and one-sided grams (pc=0 or gc=0 —
    the large majority) are dropped before the doc-grain fold (every
    doc structurally survives: both spans are space-joined overlapping
    token windows, so ' ' is always a shared 1-gram). Per-n totals are
    closed form (len − n + 1) carried through as grouping constants.
    A two-explode + gram-join form (4 shuffles) measured 3.35 s
    at sf0.1; this 2-shuffle form ~2.2 s."""
    d = load_table(spark, "documents", sf_dir)
    base = (d.select("doc_id", tokens().alias("l"))
            .where(F.size("l") >= 20)
            .select("doc_id",
                    F.array_join(F.slice("l", 1, _CHRF_PRED_LEN), " ")
                    .alias("ps"),
                    F.array_join(F.slice("l", 6, _CHRF_GOLD_LEN), " ")
                    .alias("gs"))
            .localCheckpoint(eager=False))  # both side streams share it
    ns = spark.createDataFrame([(1,), (2,), (3,)], "ng bigint")

    def side(src: str, sd: int) -> DataFrame:
        s = F.col(src)
        return (base.crossJoin(F.broadcast(ns))
                .select("doc_id",
                        F.length("ps").alias("lp"),
                        F.length("gs").alias("lg"),
                        "ng", F.col(src).alias("t"),
                        F.posexplode(F.sequence(
                            F.lit(1), F.length(s) - F.col("ng") + 1))
                        .alias("_", "i"),
                        F.lit(sd).alias("side"))
                .select("doc_id", "lp", "lg", "ng",
                        F.expr("substr(t, i, ng)").alias("g"), "side"))

    counts = (side("ps", 0).unionAll(side("gs", 1))
              .groupBy("doc_id", "lp", "lg", "ng", "g")
              .agg(F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
                   .cast("bigint").alias("pc"),
                   F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
                   .cast("bigint").alias("gc"))
              .where((F.col("pc") > 0) & (F.col("gc") > 0)))

    def o(n: int):
        return F.coalesce(
            F.sum(F.when(F.col("ng") == n, F.least("pc", "gc"))),
            F.lit(0)).cast("bigint")

    per_doc = (counts.groupBy("doc_id", "lp", "lg")
               .agg(o(1).alias("o1"), o(2).alias("o2"), o(3).alias("o3")))

    def ratio(on: str, ln: str, n: int):
        return F.col(on).cast("double") / (F.col(ln) - n + 1)

    pr = per_doc.select(
        "doc_id",
        (((ratio("o1", "lp", 1) + ratio("o2", "lp", 2))
          + ratio("o3", "lp", 3)) / 3.0).alias("p"),
        (((ratio("o1", "lg", 1) + ratio("o2", "lg", 2))
          + ratio("o3", "lg", 3)) / 3.0).alias("r"))
    chrf = (F.when(4.0 * F.col("p") + F.col("r") == 0.0, F.lit(0.0))
            .otherwise(F.round(5.0 * F.col("p") * F.col("r")
                               / (4.0 * F.col("p") + F.col("r")), 6)))
    return pr.select("doc_id", F.round("p", 6).alias("chr_p"),
                     F.round("r", 6).alias("chr_r"),
                     chrf.alias("chrf2"))


# ---------------------------------------------------------------------------
# hapax-legomena / type-token profile per source
# ---------------------------------------------------------------------------

_HAPAX_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), tg AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
       round(CAST(COUNT(*) FILTER (WHERE c = 1) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio,
       round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
         AS type_token_ratio
FROM tg GROUP BY source ORDER BY source
"""


@register("llm_hapax_ratio_per_source", oracle=_HAPAX_ORACLE)
def llm_hapax_ratio_per_source(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Hapax-legomena share and type/token ratio per source feed — the
    lexical-freshness profile between llm_zipf_fit (the law) and
    llm_vocab_growth_heaps (the curve): a source whose hapax share
    collapses is recycling text (bot/boilerplate feeds score low, fresh
    human text keeps ~40–60%% singletons), making this a per-SOURCE
    crawl-quality gate. Counts are exact: one (source, token) fold,
    then one per-source fold over the type table.

    Scale shape: one token-grain combinable groupBy (the vocabulary
    table), one source-grain fold — the corpus is scanned once; no
    windows, no joins."""
    d = load_table(spark, "documents", sf_dir)
    tg = (d.select("source", F.explode(tokens()).alias("tok"))
          .groupBy("source", "tok")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    return (tg.groupBy("source")
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.count(F.lit(1)).cast("bigint").alias("n_types"),
                 F.count(F.when(F.col("c") == 1, 1)).cast("bigint")
                 .alias("n_hapax"))
            .select("source", "n_tokens", "n_types", "n_hapax",
                    F.round(F.col("n_hapax").cast("double")
                            / F.col("n_types").cast("double"), 6)
                    .alias("hapax_ratio"),
                    F.round(F.col("n_types").cast("double")
                            / F.col("n_tokens").cast("double"), 6)
                    .alias("type_token_ratio"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# cross-language shingle leakage
# ---------------------------------------------------------------------------

_XLANG_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents
), sh AS (
  SELECT DISTINCT doc_id, lang, g
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(l) - 1),
                                 i -> l[i] || ' ' || l[i + 1] || ' '
                                      || l[i + 2])) AS g
    FROM toks
  )
), agg AS (
  SELECT g, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM sh GROUP BY g
)
SELECT g AS shingle, n_langs, n_docs
FROM agg WHERE n_langs >= 2
ORDER BY n_langs DESC, n_docs DESC, shingle
LIMIT 10
"""


@register("llm_cross_lang_leakage", oracle=_XLANG_ORACLE)
def llm_cross_lang_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language shingle leakage: 3-token shingles that appear in
    documents of TWO OR MORE languages, top-10 by language spread then
    document reach — the multilingual-corpus contamination check
    llm_contamination_ngram (train-vs-eval) doesn't cover: shared
    boilerplate, code fragments and copy-paste spans that survive
    language routing and make per-language dedup under-count. Exact
    distinct counts per shingle; deterministic (n_langs, n_docs,
    shingle) order.

    Scale shape: the per-doc DISTINCT happens MAP-SIDE
    (array_distinct on the shingle array before the explode — a doc's
    repeats never reach a shuffle), so (doc, lang, g) rows are unique by
    construction and the old corpus-wide distinct shuffle disappears;
    the two count-distincts collapse to a two-level exact aggregate
    (docs-per-(g, lang) with map-side combine, then langs = count and
    docs = sum per g — a doc has exactly one lang, so the partition is
    exact). One combinable shuffle + one tiny one instead of
    distinct + Expand double-distinct (4.5 s → ~2 s at sf0.1); top-10
    fuses to TakeOrderedAndProject."""
    d = load_table(spark, "documents", sf_dir)
    # materialize the token array ONCE per row first: referencing the
    # split(...) EXPRESSION inside the transform lambda re-splits the
    # whole text per gram position (O(tokens²) per doc — this exact
    # re-evaluation was the key's original 4.5 s at sf0.1)
    toks = d.select("doc_id", "lang", tokens().alias("l"))
    l = F.col("l")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(l) - 2),
        lambda i: F.concat_ws(" ", F.element_at(l, i),
                              F.element_at(l, i + 1),
                              F.element_at(l, i + 2)))
    sh = toks.select("doc_id", "lang",
                     F.explode(F.array_distinct(grams)).alias("g"))
    lvl1 = (sh.groupBy("g", "lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("nd")))
    agg = (lvl1.groupBy("g")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_langs"),
                F.sum("nd").cast("bigint").alias("n_docs")))
    return (agg.where(F.col("n_langs") >= 2)
            .select(F.col("g").alias("shingle"), "n_langs", "n_docs")
            .orderBy(F.col("n_langs").desc(), F.col("n_docs").desc(),
                     "shingle")
            .limit(10))


# ---------------------------------------------------------------------------
# greenlist watermark detection (is this text LLM-generated?)
# ---------------------------------------------------------------------------

# gamma = 1/4 of (prev, cur) bigram hashes land in the greenlist
_WM_GAMMA_DEN = 4
_WM_MIN_T = 20
_WM_SALT = "lts-r7-greenlist"

_WATERMARK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, g.tok, g.pos
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
                       generate_subscripts(string_split(text, ' '), 1)
                         AS pos) AS g
), tr AS (
  SELECT doc_id, tok AS cur,
         lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM toks
), flags AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(prev || '|' || cur
                                          || ':{_WM_SALT}'), 1, 8))
              AS BIGINT) % {_WM_GAMMA_DEN} = 0 AS green
  FROM tr WHERE prev IS NOT NULL
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(COUNT(*) FILTER (WHERE green) AS BIGINT) AS g
  FROM flags GROUP BY doc_id
)
SELECT doc_id, t AS n_transitions, g AS n_green,
       round((CAST(g AS DOUBLE) - 0.25 * CAST(t AS DOUBLE))
             / sqrt(CAST(t AS DOUBLE) * 0.25 * 0.75), 6) AS z_score
FROM per_doc WHERE t >= {_WM_MIN_T}
ORDER BY z_score DESC, doc_id
LIMIT 20
"""


@register("llm_watermark_greenlist_detect", oracle=_WATERMARK_ORACLE)
def llm_watermark_greenlist_detect(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Greenlist watermark detection (the Kirchenbauer-style test a
    pretraining pipeline runs to keep WATERMARKED MODEL OUTPUT out of
    the next training corpus): each bigram hashes into a γ=1/4
    greenlist; a document written by a watermarking sampler
    over-selects green continuations, so its green share z-scores far
    above the (g − γT)/√(Tγ(1−γ)) null. Membership is a deterministic
    md5 bit test — both engines flag the identical bigrams — counts are
    exact, and the top-20 suspect ranking is a total order.

    Scale shape: map-side token explode + one per-doc lag window
    (doc-partitioned, key-parallel), one doc fold; top-20 fuses to
    TakeOrderedAndProject."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select(
        "doc_id",
        F.posexplode(tokens()).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    tr = (toks.select("doc_id", F.col("tok").alias("cur"),
                      F.lag("tok").over(w).alias("prev"))
          .where(F.col("prev").isNotNull()))
    green = (F.conv(F.substring(
        F.md5(F.concat(F.col("prev"), F.lit("|"), F.col("cur"),
                       F.lit(f":{_WM_SALT}"))), 1, 8), 16, 10)
        .cast("bigint") % _WM_GAMMA_DEN == 0)
    per_doc = (tr.select("doc_id", green.alias("green"))
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("t"),
                    F.count(F.when(F.col("green"), 1)).cast("bigint")
                    .alias("g")))
    td = F.col("t").cast("double")
    z = (F.col("g").cast("double") - 0.25 * td) / F.sqrt(td * 0.25 * 0.75)
    return (per_doc.where(F.col("t") >= _WM_MIN_T)
            .select("doc_id", F.col("t").alias("n_transitions"),
                    F.col("g").alias("n_green"),
                    F.round(z, 6).alias("z_score"))
            .orderBy(F.col("z_score").desc(), "doc_id")
            .limit(20))


# ---------------------------------------------------------------------------
# budgeted top-quality corpus selection
# ---------------------------------------------------------------------------

# select the highest-quality documents until 30% of corpus tokens are used
_BUDGET_NUM, _BUDGET_DEN = 3, 10

_BUDGET_SELECT_ORACLE = f"""
WITH q AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         (1000000 * CAST(len(list_distinct(string_split(text, ' ')))
                         AS BIGINT))
           // CAST(len(string_split(text, ' ')) AS BIGINT) AS qual
  FROM documents
), tot AS (
  SELECT CAST(SUM(n_tok) AS BIGINT) AS total_tok,
         CAST(COUNT(*) AS BIGINT) AS total_docs
  FROM q
), ranked AS (
  SELECT doc_id, n_tok, qual,
         CAST(SUM(n_tok) OVER (ORDER BY qual DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tok
  FROM q
), sel AS (
  SELECT ranked.*, tot.total_tok, tot.total_docs
  FROM ranked CROSS JOIN tot
  WHERE cum_tok <= ({_BUDGET_NUM} * tot.total_tok) // {_BUDGET_DEN}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_selected,
       CAST(MAX(cum_tok) AS BIGINT) AS tokens_selected,
       CAST(MAX(({_BUDGET_NUM} * total_tok) // {_BUDGET_DEN}) AS BIGINT)
         AS budget_tokens,
       round(CAST(MIN(qual) AS DOUBLE) / 1000000.0, 6)
         AS min_quality_selected,
       round(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(total_docs) AS DOUBLE), 6)
         AS doc_share
FROM sel
"""


@register("llm_select_top_quality_budget", oracle=_BUDGET_SELECT_ORACLE)
def llm_select_top_quality_budget(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Budgeted corpus selection: rank every document by an exact
    integer quality key (distinct-token ratio in 1e-6 units — the
    repetition-penalizing core of the quality stack) and keep the best
    until 30% of corpus TOKENS are spent — the greedy
    quality-under-budget step of data mixing (the knapsack a curation
    pipeline actually runs per source before llm_mix_epoch_upsample
    blends them). The global order + running token total come from
    bucketed.py's TWO-PASS bucketed rank (no single-partition window);
    the budget cut and all counts are exact integers.

    Scale shape: map-side quality keys; one bucketed-order pass
    (broadcast range stats + bucket-parallel windows + ≤256-row offset
    join); a broadcast 1-row budget; one fold to a single row."""
    from lambdatotheslaughter_spark.bucketed import bucketed_order

    d = load_table(spark, "documents", sf_dir)
    toks = tokens()
    q = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.expr("(1000000 * CAST(size(array_distinct(split(text, ' ')))"
               " AS BIGINT)) div CAST(size(split(text, ' ')) AS BIGINT)")
        .alias("qual"))
    tot = q.agg(F.sum("n_tok").cast("bigint").alias("total_tok"),
                F.count(F.lit(1)).cast("bigint").alias("total_docs"))
    ranked = bucketed_order(q, "qual", tiebreaks=("doc_id",),
                            descending=True,
                            cumsum={"cum_tok": "n_tok"})
    sel = (ranked.crossJoin(F.broadcast(tot))
           .where(F.col("cum_tok")
                  <= F.expr(f"({_BUDGET_NUM} * total_tok) "
                            f"div {_BUDGET_DEN}")))
    return sel.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_selected"),
        F.max("cum_tok").cast("bigint").alias("tokens_selected"),
        F.max(F.expr(f"({_BUDGET_NUM} * total_tok) div {_BUDGET_DEN}"))
        .cast("bigint").alias("budget_tokens"),
        F.round(F.min("qual").cast("double") / 1000000.0, 6)
        .alias("min_quality_selected"),
        F.round(F.count(F.lit(1)).cast("double")
                / F.max("total_docs").cast("double"), 6)
        .alias("doc_share"))


# ---------------------------------------------------------------------------
# NDCG@10 retrieval evaluation
# ---------------------------------------------------------------------------

_NDCG_NQ = 50
_NDCG_K = 10
# frozen fixed-point discounts: G[r] = round(1e12 / log2(1+r)), r = 1..10,
# and P[m] = prefix sums (the ideal DCG for m relevant docs) — integers,
# so per-query DCG/IDCG are EXACT integer sums until one final division.
_NDCG_G = (1000000000000, 630929753571, 500000000000, 430676558073,
           386852807235, 356207187108, 333333333333, 315464876786,
           301029995664, 289064826318)
_NDCG_P = (1000000000000, 1630929753571, 2130929753571, 2561606311644,
           2948459118879, 3304666305987, 3637999639320, 3953464516106,
           4254494511770, 4543559338088)


def _ndcg_gain_case(col: str) -> str:
    branches = " ".join(f"WHEN {col} = {r + 1} THEN {g}"
                        for r, g in enumerate(_NDCG_G))
    return f"CASE {branches} ELSE 0 END"


def _ndcg_ideal_case(col: str) -> str:
    branches = " ".join(f"WHEN {col} = {m + 1} THEN {p}"
                        for m, p in enumerate(_NDCG_P[:-1]))
    return f"CASE {branches} ELSE {_NDCG_P[-1]} END"


def _ndcg_oracle() -> str:
    from lambdatotheslaughter_spark.operators.llm import _cos_sql_d
    cos = _cos_sql_d("q.embedding", "p.embedding", 64)
    return f"""
WITH pairs AS (
  SELECT q.vec_id AS qid, q.label AS ql, p.label AS pl, p.vec_id AS pid,
         {cos} AS c
  FROM embeddings q JOIN embeddings p ON q.vec_id <> p.vec_id
  WHERE q.vec_id < {_NDCG_NQ}
), ranked AS (
  SELECT qid, ql, pl,
         row_number() OVER (PARTITION BY qid
                            ORDER BY round(c, 12) DESC, pid) AS rk
  FROM pairs
), per_q AS (
  SELECT qid,
         CAST(SUM(CASE WHEN pl = ql AND rk <= {_NDCG_K}
                       THEN {_ndcg_gain_case("rk")} ELSE 0 END)
              AS BIGINT) AS dcg_fp,
         CAST(LEAST(CAST(COUNT(*) FILTER (WHERE pl = ql) AS BIGINT),
                    {_NDCG_K}) AS BIGINT) AS m
  FROM ranked GROUP BY qid
)
SELECT qid AS vec_id, dcg_fp, m AS n_relevant_capped,
       CAST({_ndcg_ideal_case("m")} AS BIGINT) AS idcg_fp,
       round(CAST(dcg_fp AS DOUBLE)
             / CAST({_ndcg_ideal_case("m")} AS DOUBLE), 6) AS ndcg_at_10
FROM per_q
"""


@register("llm_eval_ndcg_at10", oracle=_ndcg_oracle())
def llm_eval_ndcg_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 over the labeled embeddings — the graded-position
    retrieval score beside llm_eval_retrieval_mrr's first-hit view
    (MRR only sees the first relevant; NDCG credits EVERY relevant in
    the top-10 with a log-position discount, which is why leaderboards
    report both). The discounts 1/log₂(1+r) and their prefix sums
    (the ideal DCG) are FROZEN 1e-12 fixed-point integer literals, so
    per-query DCG and IDCG are exact integer sums and the only float
    is the final division — the llm_eval_retrieval_mrr lcm trick
    generalized to graded discounts.

    Scale shape (a per-pair HOF fold measured 2.2 s at sf0.1 over the
    50×20k pair space): the bounded query
    block ships ONCE as a broadcast numpy matrix and the pool streams
    through a mapInPandas GEMM emitting only batch-local top-10 per
    query (the llm_hard_negative_mining recipe; a correct cut because
    the (cosine_12dp desc, pid) order is total), so the merge window
    ranks 10·n_batches candidates per query, never the corpus. Both
    engines rank on the 12-dp-ROUNDED cosine (the shared GEMM-noise
    discipline the kNN tile kernel pins); the pool-wide relevant
    count m comes from one tiny label-count aggregate joined back —
    IDCG needs no ranking at all."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, "embeddings", sf_dir)
    qp = (e.where(F.col("vec_id") < _NDCG_NQ)
          .select("vec_id", "label", "embedding")
          .toPandas())  # bounded query block (≤ _NDCG_NQ rows)
    if qp.empty:  # empty shard: no queries, no ranking
        return spark.createDataFrame(
            [], ("vec_id bigint, dcg_fp bigint, n_relevant_capped bigint, "
                 "idcg_fp bigint, ndcg_at_10 double"))
    q_ids = qp["vec_id"].to_numpy("int64")
    q_labels = qp["label"].to_numpy("int64")
    qm = _unit_rows(qp["embedding"])
    bc = spark.sparkContext.broadcast((q_ids, q_labels, qm))
    k = _NDCG_K

    def run(batches):
        b_qids, b_qlabels, b_qm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy("int64")
            c_labels = pdf["label"].to_numpy("int64")
            cm = _unit_rows(pdf["embedding"])
            sims = np.round(b_qm @ cm.T, 12)
            qi, ci = _per_query_topk(
                sims, b_qids[:, None] != c_ids[None, :], b_qids, c_ids, k)
            if not len(qi):
                continue
            yield pd.DataFrame({
                "qid": b_qids[qi], "pid": c_ids[ci], "c_r": sims[qi, ci],
                "rel": (b_qlabels[qi] == c_labels[ci]).astype("int32")})

    cand = (e.select("vec_id", "label", "embedding")
            .mapInPandas(run, "qid bigint, pid bigint, c_r double, rel int"))
    wq = Window.partitionBy("qid").orderBy(F.col("c_r").desc(), "pid")
    top = (cand.withColumn("rk", F.row_number().over(wq))
           .where(F.col("rk") <= _NDCG_K))
    gain = F.expr(_ndcg_gain_case("rk"))
    dcg = (top.groupBy("qid")
           .agg(F.sum(F.when(F.col("rel") == 1, gain).otherwise(F.lit(0)))
                .cast("bigint").alias("dcg_fp")))
    cnt = e.groupBy(F.col("label").alias("pl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_label"))
    mq = (e.where(F.col("vec_id") < _NDCG_NQ)
          .select(F.col("vec_id").alias("qid2"), F.col("label").alias("ql"))
          .join(F.broadcast(cnt), F.col("ql") == F.col("pl"))
          .select("qid2",
                  F.least(F.col("n_label") - 1,
                          F.lit(_NDCG_K).cast("bigint")).alias("m")))
    per_q = (dcg.join(mq, dcg.qid == mq.qid2)
             .select("qid", "dcg_fp", "m"))
    idcg = F.expr(_ndcg_ideal_case("m"))
    return per_q.select(
        F.col("qid").alias("vec_id"), "dcg_fp",
        F.col("m").alias("n_relevant_capped"),
        idcg.cast("bigint").alias("idcg_fp"),
        F.round(F.col("dcg_fp").cast("double") / idcg.cast("double"), 6)
        .alias("ndcg_at_10"))
