"""Graph operators over derived edge tables (SURVEY.md §2.12).

The lambda-genre batch layer routinely computes graph rollups over
relational facts (co-purchase graphs, session transition graphs); the
representative here is PageRank, the canonical ITERATIVE dataflow — each
round is one join + one groupBy, which is exactly the shape that must stay
shuffle-bounded at 100 TB (no driver-side adjacency, no collect).

Determinism discipline: plain PageRank sums doubles in data order and can
never hash-match across engines. These operators run in FIXED-POINT integer
arithmetic (rank mass scaled by 1e12, damping as integer 85/100 splits, all
divisions integral) — every contribution sum is a BIGINT sum, exact and
order-independent, so a 3-iteration rank vector is bit-identical in Spark
and DuckDB. The same trick the money paths use (determinism.py), applied to
an iterative algorithm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambdatotheslaughter_spark.determinism import (
    broadcast_if_bounded, estimate_rows, pearson_from_sums)
from lambdatotheslaughter_spark.registry import register
from lambdatotheslaughter_spark.tables import load_table

_SCALE = 10**12
_ITERS = 3

# Directed multigraph: within each order (on a TOTAL order — the testdata's
# (l_orderkey, l_linenumber) is not unique, so linenumber alone would make
# lead() engine-dependent; (linenumber, partkey, suppkey) is verified
# unique), an edge from each part to the next part picked — a "picked
# together, in sequence" transition graph. Linear in lineitem rows (one
# lead() window), unlike the O(k^2)-per-order co-occurrence expansion.
_EDGES_SQL = """
  SELECT src, dst FROM (
    SELECT l_partkey AS src,
           lead(l_partkey) OVER (PARTITION BY l_orderkey
                                 ORDER BY l_linenumber, l_partkey, l_suppkey)
             AS dst
    FROM lineitem)
  WHERE dst IS NOT NULL
"""


def _transitions(li: DataFrame) -> DataFrame:
    """The Spark twin of ``_EDGES_SQL``: one (src, dst) edge per lineitem
    of ``li`` that has a next part in its order."""
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey")
    return (li.select(F.col("l_partkey").alias("src"),
                      F.lead("l_partkey").over(w).alias("dst"))
            .where(F.col("dst").isNotNull()))


def _undirected(edges: DataFrame) -> DataFrame:
    """Each (src, dst) edge as its unordered endpoint pair (a, b), a <= b."""
    return edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))


def _oriented_triangles(und: DataFrame,
                        sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered node-iterator triangle listing over the undirected
    edge set ``und`` (a, b). Returns the checkpointed degree table
    (v, d) and one (pivot, x, y) row per triangle, x < y.

    Each edge is oriented from the endpoint with smaller (degree, id) to
    the larger. That is a total order, so the oriented graph is acyclic
    and out-degree is O(sqrt(|E|)) on any graph: the wedge table is
    Θ(Σ out_deg²) ≈ |E|^1.5 worst case instead of the unoriented Σ deg²
    blow-up at hub vertices."""
    # checkpoint the O(V) degree table: the two orientation sides (and
    # any caller's join back to it) are separate subtrees, so
    # uncheckpointed the 2E-row degree shuffle ran once per consumer.
    # Interleaved fresh-JVM A/B pairs at 32 and 8 cores read the
    # checkpointed form at or under the uncheckpointed one in every
    # quiet pair.
    deg = (und.select(F.col("a").alias("v")).unionAll(und.select("b"))
           .groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
           .localCheckpoint(eager=False))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("d_b"))
    # degree tables are O(V): broadcast so the E-row edge set never
    # reshuffles for the orientation join
    oriented = (und.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
                .select(F.when((F.col("d_a") < F.col("d_b"))
                               | ((F.col("d_a") == F.col("d_b"))
                                  & (F.col("a") < F.col("b"))),
                               F.struct(F.col("a").alias("u"),
                                        F.col("b").alias("w")))
                        .otherwise(F.struct(F.col("b").alias("u"),
                                            F.col("a").alias("w")))
                        .alias("e"))
                .select("e.u", "e.w")
                .localCheckpoint(eager=False))  # wedge build + probe share it
    # wedge build: pivot self-join of the oriented edges. (An
    # adjacency-list variant — groupBy u + nested-transform pair
    # expansion — was measured 2× SLOWER at sf0.1: higher-order lambdas
    # evaluate interpreted, the same lesson the minhash signature stage
    # recorded; the equi-join stays in whole-stage codegen.)
    e1 = oriented.select(F.col("u").alias("pivot"), F.col("w").alias("x"))
    e2 = oriented.select(F.col("u").alias("pivot"), F.col("w").alias("y"))
    wedges = e1.join(e2, "pivot").where(F.col("x") < F.col("y"))
    # the closing-edge lookup joins on the id-ordered pair so the probe
    # stays a pure two-key equi-join (an OR over orientations would push
    # Spark off the hash-join path). The probe side is the EDGE list —
    # Θ(√E·E) wedges stream past it, so ship the small side to the
    # wedges, not the wedges to a shuffle: broadcast while the edge list
    # is broadcast-sized (metadata-gated like the incremental-dedup
    # joins), plain shuffle join beyond.
    probe = oriented.select(F.least("u", "w").alias("x"),
                            F.greatest("u", "w").alias("y"))
    probe = broadcast_if_bounded(probe, sf_dir, "lineitem", 10_000_000)
    return deg, wedges.join(probe, ["x", "y"])


def _triangle_edges(tri: DataFrame) -> DataFrame:
    """The three (a, b) edges, a < b, of each (pivot, x, y) triangle."""
    return tri.select(F.explode(F.array(
        F.struct(F.least("pivot", "x").alias("a"),
                 F.greatest("pivot", "x").alias("b")),
        F.struct(F.least("pivot", "y").alias("a"),
                 F.greatest("pivot", "y").alias("b")),
        F.struct(F.col("x").alias("a"), F.col("y").alias("b"))))
        .alias("e")).select("e.a", "e.b")


def _weighted_transitions(spark: SparkSession,
                          sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """PageRank's graph: (edges_w, nodes), the part transitions collapsed
    to weighted distinct (src, dst, wt) pairs and the node set, both
    checkpointed.

    Collapsing multi-edges once pays because the transition list repeats
    (src, dst) heavily (~10× here), and w copies of the exact integer
    term (r div d) sum to w·(r div d) — bit-identical, at a tenth of the
    per-round scan volume. The node set derives FROM the checkpointed
    edges_w, so the lineitem window pass runs once per query (the
    node-set lineage and the degree join would each re-run it). The node
    set is checkpointed too: it anchors the initial ranks AND every
    round's left join — uncheckpointed, the window+distinct subtree
    re-evaluated up to 5× per run (~40% of the key's cost)."""
    edges_w = (_transitions(load_table(spark, "lineitem", sf_dir))
               .groupBy("src", "dst")
               .agg(F.count(F.lit(1)).cast("bigint").alias("wt"))
               .localCheckpoint(eager=False))
    nodes = (edges_w.select(F.col("src").alias("node"))
             .union(edges_w.select("dst")).distinct()
             .localCheckpoint(eager=False))
    return edges_w, nodes


def _with_out_degree(edges_w: DataFrame) -> DataFrame:
    """edges_w with each source's weighted out-degree d, checkpointed."""
    deg = edges_w.groupBy("src").agg(F.sum("wt").cast("bigint").alias("d"))
    return edges_w.join(deg, "src").localCheckpoint()


def _pagerank_round(sf_dir: str, edges_deg: DataFrame, ranks: DataFrame,
                    nodes: DataFrame, teleport: Column) -> DataFrame:
    """One 1e-12 fixed-point PageRank round: (node, r), each node of
    ``nodes`` getting ``teleport`` plus 85% of Σ wt·(r div d) over its
    in-edges.

    The O(V) rank/contrib vectors are broadcast so the edge list never
    reshuffles (checkpointed frames carry no stats, so without the hint
    each round planned a sort-merge join). The hint is SIZE-GATED
    (broadcast_if_bounded): an explicit hint never falls back on its
    own — BroadcastExchangeExec hard-fails past 8 GiB / 512M rows — so
    past the V bound the gate lifts the hint and the round becomes a
    hash join, still O(E)."""
    contrib = (edges_deg.join(broadcast_if_bounded(ranks, sf_dir),
                              edges_deg.src == ranks.node)
               .select("dst", F.expr("wt * (r div d)").alias("c"))
               .groupBy("dst").agg(F.sum("c").alias("s")))
    return (nodes.join(broadcast_if_bounded(contrib, sf_dir),
                       nodes.node == contrib.dst, "left")
            .select("node",
                    (teleport + F.expr("(85 * coalesce(s, 0)) div 100"))
                    .cast("bigint").alias("r")))


def _pagerank_oracle() -> str:
    """Unrolled fixed-point PageRank CTE chain (same integer arithmetic as
    the Spark side; `//` is DuckDB's integral floor division)."""
    parts = [f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT COUNT(*) AS c FROM nodes),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
r0 AS (SELECT node, CAST({_SCALE} AS BIGINT) // c AS r FROM nodes CROSS JOIN nn)"""]
    for i in range(1, _ITERS + 1):
        parts.append(f""",
c{i} AS (
  SELECT e.dst AS node, SUM(p.r // deg.d) AS s
  FROM edges e
  JOIN r{i - 1} p ON e.src = p.node
  JOIN deg ON e.src = deg.src
  GROUP BY e.dst),
r{i} AS (
  SELECT n.node,
         (15 * CAST({_SCALE} AS BIGINT)) // (100 * nn.c)
           + (85 * COALESCE(c{i}.s, 0)) // 100 AS r
  FROM nodes n CROSS JOIN nn LEFT JOIN c{i} ON n.node = c{i}.node)""")
    # final CAST: DuckDB SUM(BIGINT) is HUGEINT, which pandas renders as
    # float64 — the BIGINT cast keeps both engines' dtypes integral
    parts.append(f"""
SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r{_ITERS}""")
    return "".join(parts)


@register("graph_pagerank_fixed", oracle=_pagerank_oracle())
def graph_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (damping 0.85) over the part-transition graph,
    in 1e-12 fixed point. Scale shape per round: edges ⋈ ranks (key = src —
    co-partitioned with deg after the first shuffle), one groupBy(dst) with
    map-side partial sums, one left join back to the node set; the rank
    vector is O(nodes) and never collected. At 100 TB the edge table
    dominates and each round is a bounded pair of shuffles — the classic
    Pregel-as-dataflow shape, with AQE free to broadcast the rank vector
    while it is small."""
    edges_w, nodes = _weighted_transitions(spark, sf_dir)
    n = nodes.count()  # one scalar; the driver never sees row data
    if n == 0:  # empty shard: no graph, no ranks (100 TB empty-partition edge)
        return nodes.select("node", F.lit(0).cast("bigint").alias("rank_fp"))
    edges_deg = _with_out_degree(edges_w)

    ranks = nodes.withColumn("r", F.lit(_SCALE // n).cast("bigint"))
    teleport = (15 * _SCALE) // (100 * n)
    for _ in range(_ITERS):
        ranks = _pagerank_round(sf_dir, edges_deg, ranks, nodes,
                                F.lit(teleport))
    return ranks.select("node", F.col("r").alias("rank_fp"))


# ---------------------------------------------------------------------------
# triangle counting
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = f"""
WITH raw AS ({_EDGES_SQL}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM
    (SELECT a AS v FROM und UNION SELECT b FROM und)) AS n_vertices,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
  (SELECT CAST(COUNT(*) AS BIGINT)
   FROM und e1 JOIN und e2 ON e1.b = e2.a
   JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the undirected part-transition graph — the
    clustering-coefficient numerator every graph health check starts
    with. The oracle brute-forces the ordered 3-way self-join (a<b<c);
    the Spark side runs the DEGREE-ORDERED node-iterator instead: orient
    each edge from the endpoint with smaller (degree, id) to the larger,
    enumerate wedges at each vertex's out-neighborhood, and probe them
    against the oriented edge set. Orientation bounds out-degree by
    O(sqrt(|E|)) on any graph, so the wedge table — the algorithm's
    intermediate — is Θ(Σ out_deg²) ≈ |E|^1.5 worst-case instead of the
    unoriented Σ deg² blow-up at hub vertices: the standard trick that
    keeps triangle counting shuffle-bounded at 100 TB. Joins are
    name-keyed equi-joins on vertex ids throughout; the wedge probe is
    the only non-trivial shuffle."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    und = (_undirected(raw).distinct()
           .localCheckpoint(eager=False))  # degree count + orientation share it
    _, tri = _oriented_triangles(und, sf_dir)
    n_tri = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    n_edges = und.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_vert = (und.select(F.col("a").alias("v")).union(und.select("b"))
              .distinct()
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_vertices")))
    return n_vert.crossJoin(n_edges).crossJoin(n_tri)


# ---------------------------------------------------------------------------
# breadth-first distance
# ---------------------------------------------------------------------------

_BFS_MAX_D = 3
_BFS_SEED_MOD = 50

_BFS_ORACLE = f"""
WITH RECURSIVE raw AS ({_EDGES_SQL}),
edges AS (SELECT DISTINCT src, dst FROM raw),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
seeds AS (SELECT node FROM nodes WHERE node % {_BFS_SEED_MOD} = 0),
walk(node, d) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.d < {_BFS_MAX_D}
)
SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY node
"""


@register("graph_bfs_distance", oracle=_BFS_ORACLE)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded breadth-first distance from a seed set (nodes ≡ 0 mod 50)
    over the deduplicated part-transition graph — the "k-hop
    neighborhood" primitive behind blast-radius, influence, and
    recommendation-candidate queries. Each level is one frontier ⋈ edges
    join, a distinct, and an anti-join against the visited set, so a
    node's distance is final the first time it appears — min() semantics
    by construction, no per-node re-relaxation (this is BFS, not
    Bellman-Ford). The oracle is the same walk as a depth-capped
    recursive CTE with MIN(d).

    Scale shape: per level one equi-join shuffle on src plus one
    anti-join on node id; frontier and visited sets are O(nodes), never
    collected. Depth is a fixed small constant, so lineage stays
    shallow without checkpoints; the frontier is lazily checkpointed
    because two consumers (union + next level) share it."""
    edges = (_transitions(load_table(spark, "lineitem", sf_dir))
             .distinct().localCheckpoint())  # reused every level
    # checkpoint the node set — the level-0 frontier derived from it
    # sits inside every level's visited-set anti-join AND the final
    # union, so the union+distinct re-ran ~4x per query without it
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select("dst")).distinct()
             .localCheckpoint(eager=False))
    frontier = nodes.where(F.col("node") % _BFS_SEED_MOD == 0)
    dist = frontier.withColumn("dist", F.lit(0).cast("bigint"))
    for lvl in range(1, _BFS_MAX_D + 1):
        nbr = (frontier.join(edges, frontier.node == edges.src)
               .select(F.col("dst").alias("node")).distinct())
        frontier = (nbr.join(dist.select("node"), "node", "left_anti")
                    .localCheckpoint(eager=False))
        dist = dist.union(
            frontier.withColumn("dist", F.lit(lvl).cast("bigint")))
    return dist


# ---------------------------------------------------------------------------
# degree distribution
# ---------------------------------------------------------------------------

_DEGREE_ORACLE = f"""
WITH raw AS ({_EDGES_SQL}),
edges AS (SELECT DISTINCT src, dst FROM raw),
outd AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
         FROM edges GROUP BY src),
ind AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY dst)
SELECT 'out' AS direction, deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM outd GROUP BY deg
UNION ALL
SELECT 'in' AS direction, deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM ind GROUP BY deg
"""


@register("graph_degree_histogram", oracle=_DEGREE_ORACLE)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In/out degree distribution of the deduplicated part-transition
    graph — the first thing a graph health check reads (skew tells you
    whether pagerank/triangle/BFS will hit hot keys; the salting
    threshold comes straight from this table).

    Scale shape: two cascaded combinable groupBys per direction (node →
    degree, degree → count); the second input is one row per node and
    the output is one row per distinct degree — both shuffles shrink
    the data, nothing is ever wide."""
    edges = (_transitions(load_table(spark, "lineitem", sf_dir))
             .distinct().localCheckpoint(eager=False))  # both directions
    def hist(col: str, label: str) -> DataFrame:
        return (edges.groupBy(F.col(col).alias("node"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
                .groupBy("deg")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
                .select(F.lit(label).alias("direction"), "deg", "n_nodes"))
    return hist("src", "out").unionAll(hist("dst", "in"))


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------

_GRAPH_CC_FASTPATH_MAX_EDGES = 1_000_000  # ≈16 MB of edge pairs collected

# Sparser subgraph (every 4th order) so the component structure is
# non-trivial — the full transition graph is one giant component.
_CC_EDGES_SQL = """
  SELECT src, dst FROM (
    SELECT l_partkey AS src,
           lead(l_partkey) OVER (PARTITION BY l_orderkey
                                 ORDER BY l_linenumber, l_partkey, l_suppkey)
             AS dst
    FROM lineitem WHERE l_orderkey % 4 = 0)
  WHERE dst IS NOT NULL AND src <> dst
"""

_CC_ORACLE = f"""
WITH RECURSIVE raw AS ({_CC_EDGES_SQL}),
sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw)
), reach AS (
  SELECT src AS node, src AS r FROM sym
  UNION
  SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src
)
SELECT node, CAST(MIN(r) AS BIGINT) AS component_id,
       CAST(COUNT(DISTINCT r) AS BIGINT) AS component_size
FROM reach GROUP BY node
"""


@register("graph_connected_components", oracle=_CC_ORACLE)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over an (intentionally sparse) part-transition
    subgraph — the standalone graph-surface form of the pointer-jumping
    labeler the dedup clusterer runs on its pair graph
    (llm.py:_pointer_jump_labels, reused verbatim): min-label
    propagation with label(label(v)) chain collapsing, O(log diameter)
    driver syncs, every step an equi-join + combinable min-aggregate.
    The oracle is the transitive-closure recursive CTE — exponentially
    more expensive, which is exactly the point of having the
    distributed algorithm.

    Dispatch mirrors llm_dedup_cluster exactly: a bounded unique-edge
    list goes to the driver union-find — one collect, zero extra shuffles,
    labels = component minima by construction — while a distributed-sized
    graph runs the pointer-jumping loop. The graph
    cap is higher than the dedup one (1M edges ≈ 16 MB collected): an
    explicit EDGE LIST is far smaller than the corpus it came from,
    and per-sync job overhead dominates under ~1M edges (measured
    3.3 s → 0.9 s at sf0.1 on this dispatch).

    Scale shape (distributed path): per round, edges ⋈ labels (key src
    — co-partitioned across rounds), a min-agg whose shuffle carries
    one row per vertex, and a label-keyed self-join for the pointer
    jump; the edge list is localCheckpoint-ed once. Component size is
    one more combinable count keyed by label."""
    from lambdatotheslaughter_spark.operators.llm import (
        _pointer_jump_labels, _union_find_clusters)

    raw = (_transitions(load_table(spark, "lineitem", sf_dir)
                        .where(F.col("l_orderkey") % 4 == 0))
           .where(F.col("src") != F.col("dst")))
    und = _undirected(raw).distinct().localCheckpoint(eager=False)
    if und.count() <= _GRAPH_CC_FASTPATH_MAX_EDGES:
        labels = _union_find_clusters(spark, und)
        return labels.select(
            F.col("doc_id").alias("node"),
            F.col("cluster_id").cast("bigint").alias("component_id"),
            F.col("cluster_size").cast("bigint").alias("component_size"))
    sym = (und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
           .unionAll(und.select(F.col("b").alias("src"),
                                F.col("a").alias("dst")))
           .localCheckpoint(eager=False))
    labels = _pointer_jump_labels(sym)   # (doc_id, label)
    sizes = (labels.groupBy("label")
             .agg(F.count(F.lit(1)).cast("bigint").alias("component_size")))
    return (labels.join(sizes, "label")
            .select(F.col("doc_id").alias("node"),
                    F.col("label").cast("bigint").alias("component_id"),
                    "component_size"))


# ---------------------------------------------------------------------------
# neighbor-overlap (Jaccard) link similarity
# ---------------------------------------------------------------------------

_JACCARD_NBR_ORACLE = f"""
WITH raw AS ({_EDGES_SQL}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
), sym AS (
  SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und
), deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY v
), common AS (
  SELECT u.a, u.b, CAST(COUNT(*) AS BIGINT) AS c
  FROM und u
  JOIN sym s1 ON s1.v = u.a
  JOIN sym s2 ON s2.v = u.b AND s2.w = s1.w
  GROUP BY u.a, u.b
)
SELECT u.a, u.b,
       COALESCE(c.c, 0) AS n_common,
       CAST(COALESCE(c.c, 0) AS DOUBLE)
         / CAST(da.d + db.d - COALESCE(c.c, 0) AS DOUBLE) AS jaccard
FROM und u
LEFT JOIN common c ON u.a = c.a AND u.b = c.b
JOIN deg da ON da.v = u.a
JOIN deg db ON db.v = u.b
"""


@register("graph_jaccard_neighbors", oracle=_JACCARD_NBR_ORACLE)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-overlap (Jaccard) similarity for every EDGE of the
    undirected part-transition graph — the classic link-prediction /
    community-strength score. The key identity that keeps it scalable:
    the common-neighbor count of an adjacent pair equals the number of
    triangles through that edge, so the degree-ordered oriented wedge
    probe (graph_triangle_count's machinery, Θ(E^1.5) bound) computes
    every numerator — each triangle credits its three edges — while the
    naive Σdeg² wedge expansion the oracle runs would melt at a hub.
    J = common / (deg(a) + deg(b) − common); numerator and denominator
    are exact int64, the final division the single portable double op.

    Scale shape: orientation bounds the wedge table; the per-edge credit
    explode is 3 rows per triangle; degree join is vertex-sized."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    und = _undirected(raw).distinct().localCheckpoint(eager=False)
    deg, tri = _oriented_triangles(und, sf_dir)
    # each triangle is one common neighbor for each of its three edges
    common = (_triangle_edges(tri).groupBy("a", "b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    out = (und.join(common, ["a", "b"], "left")
           .join(deg.select(F.col("v").alias("a"), F.col("d").alias("d_a")),
                 "a")
           .join(deg.select(F.col("v").alias("b"), F.col("d").alias("d_b")),
                 "b")
           .select("a", "b",
                   F.coalesce("c", F.lit(0)).cast("bigint")
                   .alias("n_common"),
                   (F.coalesce("c", F.lit(0)).cast("double")
                    / (F.col("d_a") + F.col("d_b")
                       - F.coalesce("c", F.lit(0))).cast("double"))
                   .alias("jaccard")))
    return out


# ---------------------------------------------------------------------------
# k-core decomposition, bounded peeling
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled peeling rounds (same fixed count as the Spark loop): each
    round drops vertices whose CURRENT degree < k and recomputes degrees
    on the surviving edge set. tests pin that the fixed round count has
    converged at test scale, so 'membership after N rounds' equals true
    k-core membership there."""
    # every CTE is MATERIALIZED: each round references its predecessor
    # multiple times (degree union + two keep joins), so inlining would
    # expand the window-over-lineitem base exponentially in the round
    # count — observed as a DuckDB OOM at only 4 rounds
    parts = [f"""
WITH raw AS MATERIALIZED ({_EDGES_SQL}),
e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
)"""]
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM {prev} UNION ALL SELECT b FROM {prev}) t
  GROUP BY v),
keep{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE deg >= {_KCORE_K}),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN keep{i} ka ON e.a = ka.v JOIN keep{i} kb ON e.b = kb.v)""")
        prev = f"e{i}"
    parts.append(f"""
SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
  SELECT a AS v FROM {prev} UNION ALL SELECT b FROM {prev}) t
GROUP BY v""")
    return "".join(parts)


@register("graph_k_core", oracle=_kcore_oracle())
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) by iterative peeling: repeatedly drop
    vertices with degree < k and recompute — the standard
    dense-subgraph / spam-ring / community-seed extractor. The round
    count is FIXED and identical in both engines (the oracle unrolls
    the same peeling as CTEs), and a pytest gate asserts one extra
    round changes nothing at test scale, so the fixed-round output IS
    the converged k-core there.

    Scale shape per round: one degree aggregate (combinable, one row
    per vertex) + two semi-join-shaped edge filters against the keep
    set — the Pregel peeling shape; edges only ever shrink, and the
    loop materializes each survivor set with a checkpoint so round n+1
    reads round n's output, not a growing lineage."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    edges = _undirected(raw).distinct().localCheckpoint(eager=False)
    for _ in range(_KCORE_ROUNDS):
        deg = (edges.select(F.col("a").alias("v"))
               .unionAll(edges.select("b"))
               .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
        keep = deg.where(F.col("deg") >= _KCORE_K).select("v")
        edges = (edges
                 .join(keep.select(F.col("v").alias("a")), "a", "left_semi")
                 .join(keep.select(F.col("v").alias("b")), "b", "left_semi")
                 .select("a", "b")
                 .localCheckpoint(eager=False))
    return (edges.select(F.col("a").alias("node"))
            .unionAll(edges.select("b"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree")))


# ---------------------------------------------------------------------------
# bipartite projection: co-purchase graph
# ---------------------------------------------------------------------------

_COPURCHASE_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM pairs
GROUP BY part_a, part_b
HAVING COUNT(*) >= 2
"""


@register("graph_bipartite_copurchase", oracle=_COPURCHASE_ORACLE)
def graph_bipartite_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the order–part graph onto part–part
    CO-PURCHASE edges (weight = number of shared orders, kept at
    weight ≥ 2) — the market-basket / co-occurrence projection behind
    "frequently bought together" and behind co-citation graphs in corpus
    work. Pair generation is a SELF-JOIN ON THE BASKET KEY, so the
    quadratic term is bounded by basket size (≤7 lineitems per order in
    this schema ⇒ ≤21 pairs per order), never by the corpus: the same
    per-group-bounded discipline as the LSH band buckets. A 100 TB run
    with degenerate baskets would cap basket size first (the hot-bucket
    pattern, llm.py) — here the schema bounds it by construction.

    Scale shape: distinct on (order, part) is one combinable shuffle;
    the self-join co-partitions both sides on l_orderkey (one exchange
    feeds both inputs); the pair groupBy is map-side combinable; the
    weight filter collapses output to the repeated-pair tail."""
    items = (load_table(spark, "lineitem", sf_dir)
             .select("l_orderkey", "l_partkey").distinct())
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("ok2"),
                     F.col("l_partkey").alias("part_b"))
    return (a.join(b, (a.l_orderkey == b.ok2)
                   & (F.col("part_a") < F.col("part_b")))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
            .where(F.col("n_orders") >= 2))


# ---------------------------------------------------------------------------
# local clustering coefficient
# ---------------------------------------------------------------------------

_CLUSTERING_ORACLE = f"""
WITH raw AS ({_EDGES_SQL}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1 JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
tri_v AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM (
    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri) GROUP BY v
)
SELECT deg.v AS node, deg.d AS degree,
       CAST(COALESCE(tri_v.t, 0) AS BIGINT) AS n_triangles,
       CAST(2 * COALESCE(tri_v.t, 0) AS DOUBLE)
         / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS clustering_coeff
FROM deg LEFT JOIN tri_v ON deg.v = tri_v.v
WHERE deg.d >= 2
"""


@register("graph_clustering_coefficient", oracle=_CLUSTERING_ORACLE)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex — 2·t(v)/(deg(v)·(deg(v)−1)),
    the "how clique-like is this node's neighborhood" score that separates
    hub-and-spoke structure from community structure (the per-node
    refinement of graph_triangle_count's global number). Per-node triangle
    counts come from the SAME degree-ordered oriented wedge-probe as the
    global count — each closed wedge (pivot, x, y) credits all three
    vertices, so the matched triangle rows unpivot to 3 node rows and one
    combinable groupBy. The coefficient is an exact integer ratio lifted
    to double in ONE correctly-rounded division (numerator and denominator
    both BIGINT), so no rounding is needed for parity; the oracle
    brute-forces the ordered 3-way self-join instead of orienting.

    Scale shape: identical to graph_triangle_count (orientation bounds the
    wedge table by |E|^1.5) plus one explode-to-3 and a combinable count;
    the final join back to the degree table is node-keyed."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    und = _undirected(raw).distinct().localCheckpoint(eager=False)
    deg, tri = _oriented_triangles(und, sf_dir)
    tri_v = (tri.select(F.explode(F.array("pivot", "x", "y")).alias("v"))
             .groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("t")))
    return (deg.where(F.col("d") >= 2)
            .join(tri_v, "v", "left")
            .select(F.col("v").alias("node"),
                    F.col("d").alias("degree"),
                    F.coalesce("t", F.lit(0)).cast("bigint")
                    .alias("n_triangles"),
                    ((F.lit(2) * F.coalesce("t", F.lit(0))).cast("double")
                     / (F.col("d") * (F.col("d") - 1)).cast("double"))
                    .alias("clustering_coeff")))


# ---------------------------------------------------------------------------
# degree assortativity
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = f"""
WITH raw AS ({_EDGES_SQL}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v
),
pairs AS (
  SELECT da.d AS du, db.d AS dv
  FROM und JOIN deg da ON und.a = da.v JOIN deg db ON und.b = db.v
  UNION ALL
  SELECT db.d AS du, da.d AS dv
  FROM und JOIN deg da ON und.a = da.v JOIN deg db ON und.b = db.v
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(du) AS BIGINT) AS sx, CAST(SUM(dv) AS BIGINT) AS sy,
         CAST(SUM(du * dv) AS BIGINT) AS sxy,
         CAST(SUM(du * du) AS BIGINT) AS sx2,
         CAST(SUM(dv * dv) AS BIGINT) AS sy2
  FROM pairs
), a AS (
  SELECT m2,
         CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE) AS ax,
         CAST(sy AS DOUBLE) / CAST(m2 AS DOUBLE) AS ay,
         CAST(sxy AS DOUBLE) / CAST(m2 AS DOUBLE) AS axy,
         CAST(sx2 AS DOUBLE) / CAST(m2 AS DOUBLE) AS ax2,
         CAST(sy2 AS DOUBLE) / CAST(m2 AS DOUBLE) AS ay2
  FROM s
)
SELECT m2 // 2 AS n_edges,
       (axy - ax * ay)
         / sqrt((ax2 - ax * ax) * (ay2 - ay * ay)) AS assortativity
FROM a
"""


@register("graph_assortativity_degree", oracle=_ASSORT_ORACLE)
def graph_assortativity_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r): the Pearson correlation of
    endpoint degrees over all directed edge instances — positive means
    hubs link to hubs (social-graph shape), negative means hubs link to
    leaves (star/infrastructure shape); THE one-number summary of
    degree mixing that decides whether hub-targeted sampling or
    uniform sampling will bias a corpus. Every undirected edge
    contributes both (deg_u, deg_v) and (deg_v, deg_u), making the pair
    set symmetric; all five moment sums are exact BIGINTs (≤2⁵³ so their
    double lift is exact), and r assembles through an average-based tree
    (a_xy − a_x·a_y)/√((a_x2 − a_x²)(a_y2 − a_y²)) spelled identically
    in both engines — no rounding needed.

    Scale shape: two node-keyed joins decorate edges with endpoint
    degrees, then ONE combinable aggregate carries five BIGINT partials
    per partition; nothing is ever collected and no step is quadratic."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    und = _undirected(raw).distinct().localCheckpoint(eager=False)
    deg = (und.select(F.col("a").alias("v")).unionAll(und.select("b"))
           .groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d")))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("du"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("dv"))
    decorated = und.join(da, "a").join(db, "b").select("du", "dv")
    pairs = decorated.unionAll(
        decorated.select(F.col("dv").alias("du"), F.col("du").alias("dv")))
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum("du").cast("bigint").alias("sx"),
        F.sum("dv").cast("bigint").alias("sy"),
        F.sum(F.col("du") * F.col("dv")).cast("bigint").alias("sxy"),
        F.sum(F.col("du") * F.col("du")).cast("bigint").alias("sx2"),
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("sy2"))
    return s.select(
        F.expr("m2 div 2").alias("n_edges"),
        pearson_from_sums("m2", "sx", "sy", "sxy", "sx2", "sy2")
        .alias("assortativity"))


# ---------------------------------------------------------------------------
# reciprocity
# ---------------------------------------------------------------------------

_RECIPROCITY_ORACLE = f"""
WITH raw AS ({_EDGES_SQL}),
dedup AS (
  SELECT DISTINCT src, dst FROM raw WHERE src <> dst
),
und AS (
  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
         CAST(COUNT(*) AS BIGINT) AS n_dirs
  FROM dedup GROUP BY LEAST(src, dst), GREATEST(src, dst)
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM dedup) AS n_directed,
  (SELECT CAST(2 * COUNT(*) FILTER (WHERE n_dirs = 2) AS BIGINT) FROM und)
    AS n_reciprocated,
  CAST((SELECT 2 * COUNT(*) FILTER (WHERE n_dirs = 2) FROM und) AS DOUBLE)
    / CAST((SELECT COUNT(*) FROM dedup) AS DOUBLE) AS reciprocity
"""


@register("graph_reciprocity", oracle=_RECIPROCITY_ORACLE)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the DIRECTED part-transition graph — the share of
    directed edges whose reverse edge also exists. High reciprocity
    means the "picked after" relation is really symmetric co-occurrence
    (an undirected projection loses nothing); low means order carries
    signal worth keeping — the one-number check before every downstream
    op that symmetrizes this graph (triangles, clustering, k-core)
    throws the direction away. Counted WITHOUT a self-join: group the
    deduplicated directed edges by their unordered pair and count pairs
    seen in BOTH directions — one combinable groupBy instead of an
    edges⋈edges probe, the same fold that would run at 100 TB. The
    final share is one exact-integer division.

    Scale shape: distinct-edges shuffle, one pair-keyed groupBy, two
    scalar aggregates — never quadratic."""
    dedup = (_transitions(load_table(spark, "lineitem", sf_dir))
             .where(F.col("src") != F.col("dst"))
             .distinct()
             .localCheckpoint(eager=False))  # pair fold + total share it
    und = (dedup.groupBy(F.least("src", "dst").alias("a"),
                         F.greatest("src", "dst").alias("b"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_dirs")))
    recip = und.agg(
        (F.lit(2) * F.count(F.when(F.col("n_dirs") == 2, 1)))
        .cast("bigint").alias("n_reciprocated"))
    total = dedup.agg(F.count(F.lit(1)).cast("bigint").alias("n_directed"))
    return (total.crossJoin(recip)
            .select("n_directed", "n_reciprocated",
                    (F.col("n_reciprocated").cast("double")
                     / F.col("n_directed").cast("double"))
                    .alias("reciprocity")))


# ---------------------------------------------------------------------------
# modularity of the brand partition
# ---------------------------------------------------------------------------

_MODULARITY_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tagged AS (
  SELECT e.pa, e.pb, ba.p_brand AS brand_a, bb.p_brand AS brand_b
  FROM edges e
  JOIN part ba ON e.pa = ba.p_partkey
  JOIN part bb ON e.pb = bb.p_partkey
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM tagged
), within AS (
  SELECT brand_a AS brand, CAST(COUNT(*) AS BIGINT) AS e_within
  FROM tagged WHERE brand_a = brand_b GROUP BY brand_a
), degs AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS deg_sum FROM (
    SELECT brand_a AS brand FROM tagged
    UNION ALL SELECT brand_b FROM tagged) GROUP BY brand
)
SELECT d.brand, CAST(COALESCE(w.e_within, 0) AS BIGINT) AS e_within,
       d.deg_sum, m.m_edges,
       CAST(COALESCE(w.e_within, 0) AS DOUBLE) / CAST(m.m_edges AS DOUBLE)
         - (CAST(d.deg_sum AS DOUBLE) / (2.0 * CAST(m.m_edges AS DOUBLE)))
           * (CAST(d.deg_sum AS DOUBLE) / (2.0 * CAST(m.m_edges AS DOUBLE)))
         AS q_contrib
FROM degs d LEFT JOIN within w ON d.brand = w.brand CROSS JOIN m
"""


@register("graph_modularity_brand", oracle=_MODULARITY_ORACLE)
def graph_modularity_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity contributions of the BRAND partition over the
    co-purchase graph — per community c, e_c/m − (deg_c/2m)²: positive
    means parts of that brand are bought together MORE than a random
    graph with these degrees predicts (real community structure), ~0
    means brand doesn't organize purchasing. This is the quantitative
    check to run BEFORE trusting any label column as a clustering
    (here: would brand-partitioned processing co-locate related work?).
    Per-community rows, never summed across communities (the χ²/MI
    cross-cell float-sum rule); each contribution is a three-op tree
    over exact integer edge counts.

    Scale shape: basket-bounded pair self-join (the copurchase
    discipline), two broadcast joins to the part dim for brands, then
    ONE combinable groupBy collapsing the edge stream straight into the
    (brand_a, brand_b) contingency table (≤ brands² rows) — m, within
    and degree sums all derive from that tiny table, so nothing
    edge-sized is ever cached or re-read. (The first draft
    localCheckpointed the 315M-row tagged edge set for three consumers
    and OOM'd the 100× probe — the contingency collapse removed both
    the checkpoint and two of the three edge passes.)"""
    items = (load_table(spark, "lineitem", sf_dir)
             .select("l_orderkey", "l_partkey").distinct())
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("ok2"),
                     F.col("l_partkey").alias("pb"))
    edges = (a.join(b, (a.l_orderkey == b.ok2)
                    & (F.col("pa") < F.col("pb")))
             .select("pa", "pb").distinct())
    bb = (edges
          .join(F.broadcast(part.select(F.col("p_partkey").alias("pa"),
                                        F.col("p_brand")
                                        .alias("brand_a"))), "pa")
          .join(F.broadcast(part.select(F.col("p_partkey").alias("pb"),
                                        F.col("p_brand")
                                        .alias("brand_b"))), "pb")
          .groupBy("brand_a", "brand_b")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
          .localCheckpoint(eager=False))  # tiny: <= brands^2 rows
    m = bb.agg(F.sum("n").cast("bigint").alias("m_edges"))
    within = (bb.where(F.col("brand_a") == F.col("brand_b"))
              .groupBy(F.col("brand_a").alias("brand"))
              .agg(F.sum("n").cast("bigint").alias("e_within")))
    degs = (bb.select(F.col("brand_a").alias("brand"), "n")
            .unionAll(bb.select(F.col("brand_b"), "n"))
            .groupBy("brand")
            .agg(F.sum("n").cast("bigint").alias("deg_sum")))
    out = (degs.join(within, "brand", "left").crossJoin(F.broadcast(m)))
    ew = F.coalesce("e_within", F.lit(0)).cast("bigint")
    half = F.col("deg_sum").cast("double") \
        / (F.lit(2.0) * F.col("m_edges").cast("double"))
    return out.select(
        "brand", ew.alias("e_within"), "deg_sum", "m_edges",
        (ew.cast("double") / F.col("m_edges").cast("double")
         - half * half).alias("q_contrib"))


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------

_HITS_S = 10**6
_HITS_ITERS = 2


def _hits_oracle() -> str:
    parts = [f"""
WITH raw AS ({_EDGES_SQL}),
edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
h0 AS (SELECT node, CAST({_HITS_S} AS BIGINT) AS h FROM nodes)"""]
    for i in range(1, _HITS_ITERS + 1):
        parts.append(f""",
ar{i} AS (
  SELECT e.dst AS node, CAST(SUM(p.h) AS BIGINT) AS a
  FROM edges e JOIN h{i - 1} p ON e.src = p.node GROUP BY e.dst),
am{i} AS (SELECT MAX(a) AS m FROM ar{i}),
a{i} AS (
  SELECT n.node,
         CAST(COALESCE(ar{i}.a, 0) * {_HITS_S} // am{i}.m AS BIGINT) AS a
  FROM nodes n LEFT JOIN ar{i} ON n.node = ar{i}.node CROSS JOIN am{i}),
hr{i} AS (
  SELECT e.src AS node, CAST(SUM(q.a) AS BIGINT) AS h
  FROM edges e JOIN a{i} q ON e.dst = q.node GROUP BY e.src),
hm{i} AS (SELECT MAX(h) AS m FROM hr{i}),
h{i} AS (
  SELECT n.node,
         CAST(COALESCE(hr{i}.h, 0) * {_HITS_S} // hm{i}.m AS BIGINT) AS h
  FROM nodes n LEFT JOIN hr{i} ON n.node = hr{i}.node CROSS JOIN hm{i})""")
    parts.append(f"""
SELECT h{_HITS_ITERS}.node, h{_HITS_ITERS}.h AS hub_fp,
       a{_HITS_ITERS}.a AS auth_fp
FROM h{_HITS_ITERS} JOIN a{_HITS_ITERS}
  ON h{_HITS_ITERS}.node = a{_HITS_ITERS}.node""")
    return "".join(parts)


@register("graph_hits_fixed", oracle=_hits_oracle())
def graph_hits_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities, 2 iterations in 1e-6 fixed point over
    the directed part-transition graph — the SECOND canonical iterative
    graph kernel next to graph_pagerank_fixed, and the one that needs a
    per-round NORMALIZATION (HITS scores otherwise overflow
    exponentially). The float algorithm normalizes by the L2 norm; the
    deterministic port normalizes by the MAX via integral
    multiply-then-floor-divide — scale-equivalent for ranking, exact and
    order-independent, the same trick that made PageRank bit-portable.
    Every contribution sum is a BIGINT sum over deduplicated edges.

    Scale shape per round: edges ⋈ scores on src (auth pass) then on dst
    (hub pass), each one combinable groupBy; the max is a scalar
    broadcast; score vectors are O(nodes) and never collected."""
    edges = (_transitions(load_table(spark, "lineitem", sf_dir))
             .where(F.col("src") != F.col("dst"))
             .distinct()
             .localCheckpoint(eager=False))  # every round reads it
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select("dst")).distinct()
             .localCheckpoint(eager=False))
    h = nodes.withColumn("h", F.lit(_HITS_S).cast("bigint"))

    def _norm(scored: DataFrame, col: str) -> DataFrame:
        # checkpoint the raw O(V) score vector FIRST — it feeds both
        # the max scalar and the normalization join, so without the
        # checkpoint each _norm re-ran its E-row contribution join
        # twice; the normalized output is likewise consumed twice (the
        # next pass's broadcast and the final hub⋈auth join), which
        # re-ran the whole deep lineage once per consumer
        scored = scored.localCheckpoint(eager=False)
        m = scored.agg(F.max(col).alias("m"))
        return (nodes.join(broadcast_if_bounded(scored, sf_dir),
                           "node", "left")
                .crossJoin(F.broadcast(m))
                .select("node",
                        F.expr(f"cast(coalesce({col}, 0) * {_HITS_S} "
                               f"div m as bigint)").alias(col))
                .localCheckpoint(eager=False))

    # score vectors are O(V): broadcast them so the checkpointed edge
    # list never reshuffles per pass (stats-less checkpoints otherwise
    # plan sort-merge joins). Size-gated: the explicit hint would
    # hard-fail, not degrade, past broadcast scale
    a = None
    for _ in range(_HITS_ITERS):
        ar = (edges.join(broadcast_if_bounded(h, sf_dir),
                         edges.src == h.node)
              .groupBy(F.col("dst").alias("node"))
              .agg(F.sum("h").cast("bigint").alias("a")))
        a = _norm(ar, "a")
        hr = (edges.join(broadcast_if_bounded(a, sf_dir),
                         edges.dst == a.node)
              .groupBy(F.col("src").alias("node"))
              .agg(F.sum("a").cast("bigint").alias("h")))
        h = _norm(hr, "h")
    return (h.join(a, "node")
            .select("node", F.col("h").alias("hub_fp"),
                    F.col("a").alias("auth_fp")))


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over non-edges
# ---------------------------------------------------------------------------

_ADAMIC_ADAR_ORACLE = f"""
WITH raw AS ({_EDGES_SQL}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
), sym AS (
  SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und
), deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY v
), wed AS (
  SELECT s1.v AS pivot, s1.w AS x, s2.w AS y
  FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.w < s2.w
), cand AS (
  SELECT w.x AS a, w.y AS b, CAST(COUNT(*) AS BIGINT) AS n_common,
         -- 1/ln(d) in 1e-15 fixed point (the graph_hits_fixed recipe):
         -- integer partials sum order-free and map-side-combinable
         CAST(SUM(CAST(floor(1e15 / ln(CAST(d.d AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS aa_fp
  FROM wed w JOIN deg d ON d.v = w.pivot
  GROUP BY w.x, w.y
)
SELECT c.a, c.b, c.n_common,
       round(CAST(c.aa_fp AS DOUBLE) / 1e15, 6) AS adamic_adar
FROM cand c
LEFT JOIN und u ON u.a = c.a AND u.b = c.b
WHERE u.a IS NULL AND c.n_common >= 2
ORDER BY round(CAST(c.aa_fp AS DOUBLE) / 1e15, 6) DESC, c.a, c.b
LIMIT 1000
"""


@register("graph_adamic_adar_linkpred", oracle=_ADAMIC_ADAR_ORACLE)
def graph_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the co-purchase graph: for every
    NON-edge pair with >= 2 common neighbors, the score
    sum over common neighbors w of 1/ln(deg(w)) -- rare shared neighbors
    count more than hub co-membership. This is the which-edge-forms-next
    genre (recommendation candidates, related-parts suggestions), the
    forward-looking complement of graph_jaccard_neighbors' scoring of
    EXISTING edges.

    Determinism: common-neighbor counts are exact integers; each
    1/ln(d) term converts ONCE to 1e-15 fixed point (floor(1e15/ln d),
    the graph_hits_fixed max-scaled-integral recipe), so the per-pair
    sum is an ORDER-FREE BIGINT fold -- map-side-combinable, no
    collect_list, no float-association hazard; the score reports as the
    6-dp-rounded back-conversion. Output is the global top-1000 by
    (rounded score desc, a, b) -- TakeOrderedAndProject, never a full
    sort. Candidates anti-join away existing edges, so the output is
    pure prediction. A pivot with degree 1 centers no wedge, so
    ln(d) >= ln 2 and the term is always finite.

    Scale shape: wedge enumeration is Sum d(v)(d(v)-1)/2 -- the
    co-purchase graph's degree is BASKET-bounded (max degree 83 at
    sf0.1, 10x data moves it not at all), so wedges stay ~23x the edge
    count with NO hub blowup; one combinable groupBy collapses them to
    candidate pairs and the anti-join is edge-keyed."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    und = _undirected(raw).distinct().localCheckpoint(eager=False)
    sym = (und.select(F.col("a").alias("v"), F.col("b").alias("w"))
           .unionAll(und.select(F.col("b").alias("v"),
                                F.col("a").alias("w"))))
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    # checkpoint the per-pivot term table ONCE before the wedge
    # self-join. Uncheckpointed, both join inputs rebuilt the
    # whole und → sym → deg-join subtree (the before-plan scanned the
    # checkpointed edge RDD 7 times and ran the degree shuffle TWICE),
    # and the stats-free subtree made the planner BROADCAST one full
    # ~2E-row side of the self-join (a ~1M-row build relation per task —
    # the key's GC/variance source). Checkpointed, the subtree runs once
    # and the planner sizes the self-join on the REAL table: at sf0.1 it
    # broadcasts the narrow (pivot, w) projection (~14 MB — the build
    # side is now 2 columns, not the full pre-fix row), leaving the
    # 20.8M-row wedge stream to fold straight into the candidate
    # aggregation with ONE shuffle total (see the committed sf0.1 plan:
    # zero Sort nodes, one Exchange). The choice is planner-made, not
    # hinted, so past broadcast scale (2E rows at cluster SFs) it
    # degrades to a sort-merge join instead of hard-failing.
    symd = (sym.join(deg, "v")
            .select(F.col("v").alias("pivot"), "w",
                    F.floor(F.lit(1e15)
                            / F.log(F.col("d").cast("double")))
                    .cast("bigint").alias("term_fp"))
            .localCheckpoint(eager=False))
    s1 = symd.select("pivot", F.col("w").alias("x"), "term_fp")
    s2 = symd.select(F.col("pivot").alias("p2"), F.col("w").alias("y"))
    wed = s1.join(s2, s1.pivot == s2.p2).where(F.col("x") < F.col("y"))
    # the candidate fold's partial aggregation buys almost nothing here
    # — 20.8M wedges hold 19.7M distinct pairs, so a map-side hash map
    # would re-emit ~95% of its input as (x, y, count, sum) rows
    # (measured −21/−25% for the packed form below). When the node-id
    # domain provably fits in [0, 2^31) (data-derived gate: min AND max
    # id over the checkpointed edge set in one scan of an O(E) in-memory
    # table — the min bound matters because pk = x<<32 | y is only
    # injective for NON-NEGATIVE ids), pack the pair into ONE bigint
    # (injective since 0 <= x < y < 2^31) and repartition the RAW
    # (pk, term_fp) 16-byte rows by it: the repartition satisfies the
    # aggregation's distribution requirement, so BOTH HashAggregates
    # plan above the exchange (raw rows are shuffled, not partial-agg
    # output — the exchange narrows 2.5x) and the fold and anti-join key
    # on a single long (LongHashedRelation when the planner broadcasts
    # the edge side). Past the id bound (cluster SFs: partkeys exceed
    # int32) the gate falls back to the two-column shape below.
    bounds = und.agg(F.min("a").alias("lo"), F.max("b").alias("hi")).first()
    if (bounds["hi"] is not None and bounds["lo"] >= 0
            and bounds["hi"] < (1 << 31)):
        undp = und.select(F.shiftleft(F.col("a"), 32)
                          .bitwiseOR(F.col("b")).alias("pk"))
        # PINNED-width repartition — a column-only repartition let AQE
        # coalesce the 20.8M-row exchange into a few fat partitions,
        # which straggler-amplified at low core counts (8.09 s under
        # local[8]). Pinning to spark.sql.shuffle.partitions keeps the
        # fold's task width at the session's configured parallelism,
        # and interleaved fresh-JVM A/B pairs read the pinned shape at
        # or under the AQE shape in every comparable pair at both core
        # counts (32c: 4.29/4.02/4.12 vs 4.68/4.24/4.99 s; 8c:
        # 5.30/5.88 vs 6.21 s).
        nshuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
        cand = (wed.select(F.shiftleft(F.col("x"), 32)
                           .bitwiseOR(F.col("y")).alias("pk"), "term_fp")
                .repartition(nshuf, F.col("pk"))
                .groupBy("pk")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"),
                     F.sum("term_fp").cast("bigint").alias("aa_fp"))
                .where(F.col("n_common") >= 2)
                .join(undp, "pk", "left_anti")
                .select(F.shiftrightunsigned("pk", 32).alias("a"),
                        F.col("pk").bitwiseAND(F.lit(4294967295)).alias("b"),
                        "n_common", "aa_fp"))
    else:
        cand = (wed.groupBy(F.col("x").alias("a"), F.col("y").alias("b"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"),
                     F.sum("term_fp").cast("bigint").alias("aa_fp"))
                .join(und, ["a", "b"], "left_anti")
                .where(F.col("n_common") >= 2))
    score = F.round(F.col("aa_fp").cast("double") / F.lit(1e15), 6)
    return (cand
            .select("a", "b", "n_common", score.alias("adamic_adar"))
            # top-1000 predicted links: TakeOrderedAndProject, no global
            # sort; ranking on the ROUNDED fixed-point score ties
            # deterministically on (a, b) in both engines
            .orderBy(F.col("adamic_adar").desc(), "a", "b")
            .limit(1000))


# ---------------------------------------------------------------------------
# personalized PageRank from a seed set
# ---------------------------------------------------------------------------

_PPR_ITERS = 3


def _ppr_oracle() -> str:
    """Unrolled personalized-PageRank CTE chain: the teleport mass
    returns to the SEED SET (small parts, p_size <= 5) instead of
    spreading uniformly -- otherwise identical integral arithmetic to
    _pagerank_oracle."""
    parts = [f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
seeds AS (
  SELECT n.node FROM nodes n
  JOIN part p ON n.node = p.p_partkey
  WHERE p.p_size <= 5),
ns AS (SELECT COUNT(*) AS c FROM seeds),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
r0 AS (
  SELECT n.node,
         CASE WHEN s.node IS NULL THEN 0
              ELSE CAST({_SCALE} AS BIGINT) // ns.c END AS r
  FROM nodes n CROSS JOIN ns LEFT JOIN seeds s ON n.node = s.node)"""]
    for i in range(1, _PPR_ITERS + 1):
        parts.append(f""",
c{i} AS (
  SELECT e.dst AS node, SUM(p.r // deg.d) AS s
  FROM edges e
  JOIN r{i - 1} p ON e.src = p.node
  JOIN deg ON e.src = deg.src
  GROUP BY e.dst),
r{i} AS (
  SELECT n.node,
         CASE WHEN sd.node IS NULL THEN 0
              ELSE (15 * CAST({_SCALE} AS BIGINT)) // (100 * ns.c) END
           + (85 * COALESCE(c{i}.s, 0)) // 100 AS r
  FROM nodes n CROSS JOIN ns
  LEFT JOIN seeds sd ON n.node = sd.node
  LEFT JOIN c{i} ON n.node = c{i}.node)""")
    parts.append(f"""
SELECT node, CAST(r AS BIGINT) AS ppr_fp FROM r{_PPR_ITERS}
WHERE r > 0""")
    return "".join(parts)


@register("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank: the teleport mass returns to a seed set
    (small parts, p_size <= 5) instead of spreading uniformly -- rank
    becomes proximity TO THE SEEDS through the co-purchase structure,
    i.e. the related-items / recommendations kernel
    (graph_pagerank_fixed measures global importance; this measures
    importance RELATIVE TO a context). Same 1e-12 integral fixed point
    and floor-division normalization, 3 rounds; zero-mass nodes drop
    from the output (unreachable from the seeds).

    Scale shape: per round the same bounded pair of shuffles as global
    PageRank (edges join ranks on src, groupBy dst, node-set left
    join); the seed membership is a broadcast dimension join."""
    edges_w, nodes = _weighted_transitions(spark, sf_dir)
    part = load_table(spark, "part", sf_dir) \
        .where(F.col("p_size") <= 5).select(F.col("p_partkey").alias("sn"))
    seeds = nodes.join(F.broadcast(part), nodes.node == F.col("sn")) \
        .select("node").localCheckpoint()
    ns = seeds.count()
    if ns == 0:  # empty shard / no seed qualifies: nothing is reachable
        return nodes.select("node", F.lit(0).cast("bigint").alias("ppr_fp")) \
            .where(F.lit(False))
    edges_deg = _with_out_degree(edges_w)
    is_seed = F.col("sn2").isNotNull()
    seeds2 = seeds.select(F.col("node").alias("sn2"))
    teleport = (15 * _SCALE) // (100 * ns)
    # the per-node teleport term never changes across rounds — fold the
    # seed flag into ONE checkpointed (node, t) table instead of
    # re-running the nodes⋈seeds left join every iteration (one
    # redundant broadcast join + seed-probe per round)
    nt = (nodes.join(broadcast_if_bounded(seeds2, sf_dir),
                     nodes.node == F.col("sn2"), "left")
          .select("node",
                  F.when(is_seed, F.lit(teleport)).otherwise(F.lit(0))
                  .cast("bigint").alias("t"))
          .localCheckpoint(eager=False))
    # the initial rank vector would run the SAME nodes⋈seeds left join
    # a second time — derive it from nt instead (t > 0 ⟺ seed
    # while the integer teleport term is non-zero; teleport ≥ 1 for any
    # ns ≤ 1.5e11, and the degenerate underflow branch keeps the explicit
    # join so the derivation is provably value-identical in all regimes)
    if teleport > 0:
        ranks = nt.select("node",
                          F.when(F.col("t") > 0, F.lit(_SCALE // ns))
                          .otherwise(F.lit(0)).cast("bigint").alias("r"))
    else:
        ranks = (nodes.join(broadcast_if_bounded(seeds2, sf_dir),
                            nodes.node == F.col("sn2"), "left")
                 .select("node",
                         F.when(is_seed, F.lit(_SCALE // ns))
                         .otherwise(F.lit(0)).cast("bigint").alias("r")))
    for _ in range(_PPR_ITERS):
        ranks = _pagerank_round(sf_dir, edges_deg, ranks, nt, F.col("t"))
    return (ranks.where(F.col("r") > 0)
            .select("node", F.col("r").alias("ppr_fp")))


# ---------------------------------------------------------------------------
# disparity-filter backbone extraction
# ---------------------------------------------------------------------------

_DISPARITY_ORACLE = f"""
WITH raw AS ({_EDGES_SQL}),
wedges_w AS (
  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM raw WHERE src <> dst GROUP BY 1, 2
), sym AS (
  SELECT a AS v, b AS u, w FROM wedges_w
  UNION ALL SELECT b, a, w FROM wedges_w
), node AS (
  SELECT v, CAST(SUM(w) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS k
  FROM sym GROUP BY v
), alpha AS (
  -- Serrano/Boguna/Vespignani: alpha = (1 - w/s)^(k-1), per endpoint;
  -- pow is the one transcendental -> rounded 6 dp BEFORE the keep test
  SELECT e.a, e.b, e.w,
         round(CASE WHEN na.k <= 1 THEN 0.0
                    ELSE power(1.0 - CAST(e.w AS DOUBLE)
                                     / CAST(na.s AS DOUBLE),
                               CAST(na.k AS DOUBLE) - 1.0) END, 6)
           AS alpha_a,
         round(CASE WHEN nb.k <= 1 THEN 0.0
                    ELSE power(1.0 - CAST(e.w AS DOUBLE)
                                     / CAST(nb.s AS DOUBLE),
                               CAST(nb.k AS DOUBLE) - 1.0) END, 6)
           AS alpha_b
  FROM wedges_w e
  JOIN node na ON e.a = na.v JOIN node nb ON e.b = nb.v
)
SELECT a, b, w, alpha_a, alpha_b
FROM alpha WHERE LEAST(alpha_a, alpha_b) < 0.3
"""


# canonical Serrano et al. significance level; the REGISTERED query passes
# the fixture-scale 0.3 explicitly (see the call-site comment below)
_DISPARITY_ALPHA_DEFAULT = 0.05


def disparity_backbone(spark: SparkSession, sf_dir: str,
                       alpha_max: float | None = None) -> DataFrame:
    """Disparity-filter backbone (Serrano et al., PNAS 2009): keep a
    weighted co-purchase edge iff its weight is statistically
    significant against EITHER endpoint's uniform-spread null --
    alpha = (1 - w/s)^(k-1) < alpha_max (default the canonical 0.05;
    the registered fixture query passes 0.3: the threshold is a named
    parameter, not a buried constant) -- the principled
    sparsifier that preserves multi-scale structure where a global
    weight threshold only keeps hubs. Degree-1 endpoints get alpha 0.0
    by convention: a dangling edge is its node's ENTIRE strength, so
    the null can never reject it and it always passes through its own
    endpoint -- the other endpoint still applies its own test via
    LEAST only when its alpha is smaller. Weights, strengths and
    degrees are exact integers off two combinable folds; alpha is the
    one pow() transcendental, ROUNDED 6 dp before the keep test in
    both engines so the filter decision itself is portable.

    Scale shape: weighted-edge fold, node fold, two node-keyed
    decoration joins -- all combinable/key-parallel; output is the
    sparsified backbone."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    edges_w = (_undirected(raw)
               .groupBy("a", "b")
               .agg(F.count(F.lit(1)).cast("bigint").alias("w")))
    sym = (edges_w.select(F.col("a").alias("v"), F.col("w"))
           .unionAll(edges_w.select(F.col("b").alias("v"), F.col("w"))))
    node = sym.groupBy("v").agg(
        F.sum("w").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("k"))

    def alpha(s_col, k_col):
        return F.round(
            F.when(k_col <= 1, F.lit(0.0))
            .otherwise(F.pow(F.lit(1.0)
                             - F.col("w").cast("double")
                             / s_col.cast("double"),
                             k_col.cast("double") - F.lit(1.0))), 6)

    na = node.select(F.col("v").alias("a"), F.col("s").alias("sa"),
                     F.col("k").alias("ka"))
    nb = node.select(F.col("v").alias("b"), F.col("s").alias("sb"),
                     F.col("k").alias("kb"))
    decorated = (edges_w.join(na, "a").join(nb, "b")
                 .select("a", "b", "w",
                         alpha(F.col("sa"), F.col("ka")).alias("alpha_a"),
                         alpha(F.col("sb"), F.col("kb")).alias("alpha_b")))
    # registered query passes 0.3 rather than the canonical 0.05: the
    # fixture's co-purchase weights are small (max ~3), so 0.05 keeps
    # nothing at test scale; the filter keeps a SCALE-STABLE backbone
    # here (544 edges at sf0.01, 499 at sf0.1 from a 10x denser graph
    # -- the property the filter exists for). The oracle pins the same
    # 0.3; callers at production scale take the 0.05 default.
    threshold = _DISPARITY_ALPHA_DEFAULT if alpha_max is None \
        else alpha_max
    return decorated.where(
        F.least("alpha_a", "alpha_b") < F.lit(threshold))


@register("graph_disparity_backbone", oracle=_DISPARITY_ORACLE)
def graph_disparity_backbone(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Registered fixture query: ``disparity_backbone`` at the
    fixture-scale threshold 0.3 (the oracle pins the same value; the
    canonical 0.05 is the parameter default for production callers)."""
    return disparity_backbone(spark, sf_dir, alpha_max=0.3)


# ---------------------------------------------------------------------------
# fixed-depth Katz centrality (three unrolled SpMV passes)
# ---------------------------------------------------------------------------

_KATZ_B1 = 0.005
_KATZ_B2 = 0.000025
_KATZ_B3 = 1.25e-07
_KATZ_TOPK = 100

_KATZ_ORACLE = f"""
WITH pairs AS (
  SELECT l_orderkey, l_partkey,
         lead(l_partkey) OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_partkey,
                                        l_suppkey) AS nxt
  FROM lineitem
), e0 AS (
  SELECT LEAST(l_partkey, nxt) AS a, GREATEST(l_partkey, nxt) AS b,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM pairs WHERE nxt IS NOT NULL AND l_partkey <> nxt
  GROUP BY LEAST(l_partkey, nxt), GREATEST(l_partkey, nxt)
), edges AS (
  SELECT a AS v, b AS u, w FROM e0
  UNION ALL SELECT b, a, w FROM e0
), p1 AS (
  SELECT v, CAST(SUM(w) AS BIGINT) AS s FROM edges GROUP BY v
), p2 AS (
  SELECT e.v, CAST(SUM(CAST(e.w AS HUGEINT) * p1.s) AS HUGEINT) AS s
  FROM edges e JOIN p1 ON e.u = p1.v GROUP BY e.v
), p3 AS (
  SELECT e.v, CAST(SUM(CAST(e.w AS HUGEINT) * p2.s) AS HUGEINT) AS s
  FROM edges e JOIN p2 ON e.u = p2.v GROUP BY e.v
)
SELECT p1.v AS partkey,
       p1.s AS walks_1, CAST(p2.s AS BIGINT) AS walks_2,
       CAST(p3.s AS BIGINT) AS walks_3,
       CAST(p1.s AS DOUBLE) * {_KATZ_B1!r}
         + CAST(p2.s AS DOUBLE) * {_KATZ_B2!r}
         + CAST(p3.s AS DOUBLE) * {_KATZ_B3!r} AS katz
FROM p1 JOIN p2 ON p1.v = p2.v JOIN p3 ON p1.v = p3.v
ORDER BY katz DESC, partkey
LIMIT {_KATZ_TOPK}
"""


@register("graph_katz_centrality_fixed", oracle=_KATZ_ORACLE)
def graph_katz_centrality_fixed(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Katz centrality truncated at depth 3 over the co-purchase graph:
    katz(v) = β·walks₁ + β²·walks₂ + β³·walks₃, the
    influence-with-decay measure between degree centrality (depth 1,
    graph_degree_histogram's grain) and the fixed-point PageRank/HITS
    iterations already in the family — truncation makes it CLOSED-FORM:
    three sparse matrix-vector products, each one equi-join + combinable
    groupBy, walk counts exact integers (decimal(38,0) past depth 1),
    β powers frozen literals, top-100 by the identical double
    polynomial.

    Scale shape: per-level SpMV = edge⋈vector equi-join + sum fold
    (key-parallel, the graph_pagerank_fixed shape, but exactly 3
    levels); the final top-k fuses to TakeOrderedAndProject."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    e0 = (_undirected(raw)
          .groupBy("a", "b")
          .agg(F.count(F.lit(1)).cast("bigint").alias("w")))
    edges = (e0.select(F.col("a").alias("v"), F.col("b").alias("u"), "w")
             .unionAll(e0.select(F.col("b").alias("v"),
                                 F.col("a").alias("u"), "w"))
             .localCheckpoint(eager=False))  # three SpMV levels share it
    # checkpoint the O(V) walk vectors — p1 feeds p2's broadcast
    # AND the final three-way join (p2 likewise), so uncheckpointed the
    # edge-scan groupBys re-ran once per consumer
    p1 = (edges.groupBy("v").agg(F.sum("w").cast("bigint").alias("s1"))
          .localCheckpoint(eager=False))
    # broadcast the O(V) walk vectors so the checkpointed edge list
    # never reshuffles per level (stats-less checkpoints plan
    # sort-merge joins without the hint). Size-gated via
    # broadcast_if_bounded: an explicit hint hard-fails past
    # 8 GiB / 512M rows instead of degrading, so the hash-join
    # fallback only exists if the hint is lifted at scale
    p2 = (edges.join(broadcast_if_bounded(
              p1.select(F.col("v").alias("u"), "s1"), sf_dir), "u")
          .groupBy("v")
          .agg(F.sum(F.col("w").cast("decimal(38,0)") * F.col("s1"))
               .alias("s2"))
          .localCheckpoint(eager=False))
    p3 = (edges.join(broadcast_if_bounded(
              p2.select(F.col("v").alias("u"), "s2"), sf_dir), "u")
          .groupBy("v")
          .agg(F.sum(F.col("w").cast("decimal(38,0)") * F.col("s2"))
               .alias("s3")))
    katz = (F.col("s1").cast("double") * F.lit(_KATZ_B1)
            + F.col("s2").cast("double") * F.lit(_KATZ_B2)
            + F.col("s3").cast("double") * F.lit(_KATZ_B3))
    return (p1.join(p2, "v").join(p3, "v")
            .select(F.col("v").alias("partkey"),
                    F.col("s1").alias("walks_1"),
                    F.col("s2").cast("bigint").alias("walks_2"),
                    F.col("s3").cast("bigint").alias("walks_3"),
                    katz.alias("katz"))
            .orderBy(F.col("katz").desc(), "partkey")
            .limit(_KATZ_TOPK))


# ---------------------------------------------------------------------------
# rich-club coefficient
# ---------------------------------------------------------------------------

_RICH_KS = (2, 4, 8)

_RICH_ORACLE = f"""
WITH pairs AS (
  SELECT l_orderkey, l_partkey,
         lead(l_partkey) OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_partkey,
                                        l_suppkey) AS nxt
  FROM lineitem
), e0 AS (
  SELECT DISTINCT LEAST(l_partkey, nxt) AS a, GREATEST(l_partkey, nxt) AS b
  FROM pairs WHERE nxt IS NOT NULL AND l_partkey <> nxt
), deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v
), ks AS (
  SELECT unnest([{", ".join(str(k) for k in _RICH_KS)}]) AS k
)
SELECT CAST(ks.k AS BIGINT) AS k,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE d > ks.k) AS n_k,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e0
        JOIN deg da ON e0.a = da.v JOIN deg db ON e0.b = db.v
        WHERE da.d > ks.k AND db.d > ks.k) AS e_k,
       2.0 * (SELECT CAST(COUNT(*) AS DOUBLE) FROM e0
              JOIN deg da ON e0.a = da.v JOIN deg db ON e0.b = db.v
              WHERE da.d > ks.k AND db.d > ks.k)
         / ((SELECT CAST(COUNT(*) AS DOUBLE) FROM deg WHERE d > ks.k)
            * ((SELECT CAST(COUNT(*) AS DOUBLE) FROM deg WHERE d > ks.k)
               - 1.0)) AS rich_club_phi
FROM ks
"""


@register("graph_rich_club_coefficient", oracle=_RICH_ORACLE)
def graph_rich_club_coefficient(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) of the co-purchase graph at k ∈
    {{2,4,8}}: among nodes with degree > k, the realized share of
    possible edges — do the hubs preferentially trade with EACH OTHER
    (φ rising with k), the structural question degree histograms and
    assortativity only gesture at. Edge and degree folds are exact; per
    k the subgraph edge count is two degree-decoration joins; one
    division per row.

    Scale shape: one distinct-edge fold + one degree fold; per-k work
    is edge⋈degree equi-joins (key-parallel) against a 3-row broadcast
    k-spine; output is 3 rows."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    e0 = (_undirected(raw).distinct()
          .localCheckpoint(eager=False))  # degree + per-k joins share it
    deg = (e0.select(F.col("a").alias("v"))
           .unionAll(e0.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d")))
    ks = spark.createDataFrame([(k,) for k in _RICH_KS], "k int")
    nk = (deg.crossJoin(F.broadcast(ks))
          .where(F.col("d") > F.col("k"))
          .groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("n_k")))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ek = (e0.join(da, "a").join(db, "b")
          .crossJoin(F.broadcast(ks))
          .where((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
          .groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("e_k")))
    return (nk.join(ek, "k", "left")
            .select(F.col("k").cast("bigint").alias("k"), "n_k",
                    F.coalesce("e_k", F.lit(0)).cast("bigint").alias("e_k"),
                    (F.lit(2.0) * F.coalesce("e_k", F.lit(0)).cast("double")
                     / (F.col("n_k").cast("double")
                        * (F.col("n_k").cast("double") - F.lit(1.0))))
                    .alias("rich_club_phi")))


# ---------------------------------------------------------------------------
# synchronous min-label propagation (community detection)
# ---------------------------------------------------------------------------

_LABELPROP_ORACLE = """
WITH raw AS (
  SELECT l_partkey AS src,
         lead(l_partkey) OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_partkey,
                                        l_suppkey) AS dst
  FROM lineitem
), e0 AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE dst IS NOT NULL AND src <> dst
), edges AS (
  SELECT a AS v, b AS u FROM e0 UNION ALL SELECT b, a FROM e0
), l0 AS (
  SELECT DISTINCT v, v AS l FROM edges
), l1 AS (
  SELECT l0.v, least(l0.l, MIN(n.l)) AS l
  FROM l0 JOIN edges ON edges.v = l0.v
          JOIN l0 AS n ON n.v = edges.u
  GROUP BY l0.v, l0.l
), l2 AS (
  SELECT l1.v, least(l1.l, MIN(n.l)) AS l
  FROM l1 JOIN edges ON edges.v = l1.v
          JOIN l1 AS n ON n.v = edges.u
  GROUP BY l1.v, l1.l
), l3 AS (
  SELECT l2.v, least(l2.l, MIN(n.l)) AS l
  FROM l2 JOIN edges ON edges.v = l2.v
          JOIN l2 AS n ON n.v = edges.u
  GROUP BY l2.v, l2.l
)
SELECT CAST(l AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM l3 GROUP BY l HAVING COUNT(*) >= 2
ORDER BY n_members DESC, community
LIMIT 50
"""


@register("graph_label_propagation_sync", oracle=_LABELPROP_ORACLE)
def graph_label_propagation_sync(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS min-label propagation over
    the co-purchase graph, exactly three rounds: every vertex starts
    labeled with its own id and repeatedly takes the minimum of its
    label and its neighbors' ROUND-k labels — the deterministic variant
    of label propagation (classic LPA's random tie-breaks make it
    unreproducible; min-label is the same fixed-point family as
    graph_connected_components but BOUNDED at depth 3, so it reports
    communities-within-radius-3 rather than full components). Top-50
    communities by size with the earliest-label tie-break.

    Scale shape: self-loops appended to the symmetrized edge list turn
    the recurrence l_{k+1}(v) = min(l_k(v), min_{u∈N(v)} l_k(u)) into a
    PLAIN min fold over N(v) ∪ {v} — one edge⋈labels equi-join + one
    combinable min fold per round, with no second labels re-join (a
    per-round labels re-join costs 3 extra shuffles). Round 1
    needs no join at all (l_0(u) = u, so l_1 = min fold of the edge
    list directly); rounds 2-3 broadcast the V-row label map so the
    checkpointed E-row edge list never reshuffles (hash-partitioned
    labels at a V that outgrows broadcast — the fold stays O(E))."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    e0 = _undirected(raw).distinct()
    # pin the deduped edge set BEFORE the self-loop union — otherwise the
    # edges checkpoint's own materialization job contains the e0 subtree
    # twice (sym + the self-loop distinct), so the lineitem window pass
    # and the dedup shuffle run 2x per query
    e0 = e0.localCheckpoint(eager=False)
    sym = (e0.select(F.col("a").alias("v"), F.col("b").alias("u"))
           .unionAll(e0.select(F.col("b").alias("v"),
                               F.col("a").alias("u"))))
    edges = (sym.unionAll(sym.select("v").distinct()
                          .select("v", F.col("v").alias("u")))
             .localCheckpoint(eager=False))  # three rounds share it
    labels = edges.groupBy("v").agg(F.min("u").alias("l"))
    for _ in range(2):
        # O(V) label vector: size-gated hint (a bare F.broadcast()
        # hard-fails past 8 GiB / 512M rows instead of degrading)
        labels = (edges.join(broadcast_if_bounded(
                      labels.select(F.col("v").alias("u"),
                                    F.col("l").alias("nl")), sf_dir), "u")
                  .groupBy("v").agg(F.min("nl").alias("l")))
    return (labels.groupBy("l")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
            .where(F.col("n_members") >= 2)
            .select(F.col("l").cast("bigint").alias("community"),
                    "n_members")
            .orderBy(F.col("n_members").desc(), "community")
            .limit(50))


# ---------------------------------------------------------------------------
# 3-hop harmonic closeness centrality
# ---------------------------------------------------------------------------

# seed-pivot contract: exact 3-hop closeness for the 32 vertices with
# the smallest deterministic md5 keys (the HyperBall-era answer to "you
# cannot enumerate all-pairs distances on a dense graph").
# Execution is multi-source BFS over seed BITMASKS (the MS-BFS idea:
# Then et al., VLDB 2014): every vertex carries one 64-bit word whose
# bit i means "seed i reaches me within d hops", and a level is ONE
# O(E) edge⋈mask join + a combinable bit_or fold — the per-level cost
# has NO seeds multiplier (a frontier-join form is
# O(seeds · ball · degree): 4.8 s at sf0.1, against 1.3 s for the
# bitmask form).
_CLOSENESS_SEEDS = 32
_CLOSENESS_SEED_SALT = "lts-r7-closeness"
# estimated lineitem rows above which the edge build dedups before the
# three BFS level joins (probed: the undeduped checkpoint OOMs at
# ~100× fact volume; below the gate the dedup shuffle costs more than
# the ~1.3× duplicates it removes). Module-level so the branch-parity
# test can pin both paths to identical values.
_CLOSENESS_DEDUP_MIN_ROWS = 5_000_000

_CLOSENESS_ORACLE = f"""
WITH raw AS (
  SELECT l_partkey AS src,
         lead(l_partkey) OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_partkey,
                                        l_suppkey) AS dst
  FROM lineitem
), e0 AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE dst IS NOT NULL AND src <> dst
), p1 AS (
  SELECT a AS v, b AS u FROM e0 UNION SELECT b, a FROM e0
), seeds AS (
  SELECT v AS s FROM (SELECT DISTINCT v FROM p1)
  ORDER BY CAST(concat('0x', substring(md5(CAST(v AS VARCHAR)
                                           || ':{_CLOSENESS_SEED_SALT}'),
                                       1, 15)) AS BIGINT), v
  LIMIT {_CLOSENESS_SEEDS}
), d1 AS (
  SELECT seeds.s, p1.u FROM seeds JOIN p1 ON p1.v = seeds.s
), d2 AS (
  SELECT DISTINCT d1.s, p1.u FROM d1 JOIN p1 ON p1.v = d1.u
  WHERE p1.u <> d1.s
  EXCEPT SELECT s, u FROM d1
), d3 AS (
  SELECT DISTINCT d2.s, p1.u FROM d2 JOIN p1 ON p1.v = d2.u
  WHERE p1.u <> d2.s
  EXCEPT (SELECT s, u FROM d1 UNION SELECT s, u FROM d2)
), c AS (
  SELECT s,
         CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
  FROM (
    SELECT s, 1 AS d FROM d1 UNION ALL
    SELECT s, 2 FROM d2 UNION ALL
    SELECT s, 3 FROM d3
  ) GROUP BY s
)
SELECT CAST(s AS BIGINT) AS partkey, n1, n2, n3,
       round(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) / 2.0
             + CAST(n3 AS DOUBLE) / 3.0, 6) AS harmonic_3
FROM c
ORDER BY harmonic_3 DESC, partkey
"""


@register("graph_closeness_harmonic_3hop", oracle=_CLOSENESS_ORACLE)
def graph_closeness_harmonic_3hop(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality truncated at radius 3, computed
    EXACTLY for a deterministic 32-vertex seed pivot set:
    Σ_{u≠s, d(s,u)≤3} 1/d = n₁ + n₂/2 + n₃/3 per seed — the
    who-is-CLOSE-to-everything measure beside the walk-counting family
    (Katz counts paths, closeness counts DISTANCES; the harmonic form
    drops unreachable pairs instead of zeroing out). Seed-pivoting is
    the load-bearing scale decision: the co-purchase graph is DENSE
    (the 3-hop ball covers most of V, so all-vertex shells are O(V²)
    pairs — measured 4M pairs with a 110M-row join intermediate at
    sf0.01, the thing that OOMs a 1 GB driver), while seeded frontier
    expansion is O(seeds · ball) with exact-distance shells via
    set-difference (dist-2 = 2-step minus dist-1; dist-3 = 3-step
    minus closer). Seeds are the 32 smallest deterministic md5 keys —
    the fixed-size pivot-sampling contract production closeness
    (HyperBall-style) uses on billion-edge graphs.

    Scale shape (MS-BFS bitmasks): every vertex carries ONE bigint
    whose bit i = "seed i reaches me within d hops"; a level is one
    O(E) edge⋈mask equi-join + a combinable bit_or fold to V rows —
    no seeds multiplier anywhere (the frontier-join form this replaced
    was O(seeds · ball · degree) and 3.7× slower at sf0.1). Shell
    counts fall out of mask set-difference (r_d & ~r_{d-1}) folded
    over a bounded 32-position posexplode."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    # the mask fold is bit_or-IDEMPOTENT: duplicate edges contribute the
    # same bits, so the edge-dedup DISTINCT the oracle needs for its
    # set-difference shells is semantically a no-op here. Whether it is
    # WORTH running is a volume question, so it is estimate-gated: at
    # bench scale the duplicate factor is ~1.3× and the
    # dedup shuffle costs more than the duplicates it removes (value
    # parity re-verified at sf0.01/sf0.1 both ways); at high fact
    # volume the duplicate factor compounds (the 100×-copy probe OOMed
    # the undeduped checkpoint at ~180M duplicate rows) and one dedup
    # shuffle amortizes across all three level joins — the 100 TB path.
    adj = raw.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    if estimate_rows(sf_dir, "lineitem") > _CLOSENESS_DEDUP_MIN_ROWS:
        adj = adj.select(F.least("v", "u").alias("v"),
                         F.greatest("v", "u").alias("u")).distinct()
    p1 = (adj.union(adj.select(F.col("u").alias("v"),
                               F.col("v").alias("u")))
          .localCheckpoint(eager=False))  # all three levels reuse it
    key = F.conv(F.substring(
        F.md5(F.concat(F.col("v").cast("string"),
                       F.lit(f":{_CLOSENESS_SEED_SALT}"))), 1, 15), 16, 10) \
        .cast("bigint")
    seeds = (p1.select("v").distinct()
             .orderBy(key, "v").limit(_CLOSENESS_SEEDS)
             .select(F.col("v").alias("s")))
    # bit index per seed: the post-limit frame is <= 32 rows, so the
    # unpartitioned row_number window is a single tiny partition. The
    # checkpoint matters: sbits is consumed TWICE (r0 and the final
    # label join) and its lineage runs through the seed sort over all
    # of V — uncheckpointed, the second consumer re-ran that sort.
    sw = Window.orderBy(
        F.conv(F.substring(
            F.md5(F.concat(F.col("s").cast("string"),
                           F.lit(f":{_CLOSENESS_SEED_SALT}"))), 1, 15),
            16, 10).cast("bigint"), "s")
    sbits = seeds.select(
        "s", (F.row_number().over(sw) - 1).alias("i")) \
        .localCheckpoint(eager=False)
    r0 = sbits.select(
        F.col("s").alias("v"),
        # SQL form: F.shiftleft's python signature wants a literal count
        F.expr("shiftleft(CAST(1 AS BIGINT), i)").alias("m"))

    def widen(r: DataFrame) -> DataFrame:
        """ball_{d+1} masks = ball_d OR (bit_or of neighbors' ball_d):
        one edge-keyed equi-join + one combinable bit_or fold. The mask
        table is V rows of (bigint, bigint) — broadcast it so the E-row
        edge list never shuffles and the bit_or partial-aggregates
        map-side (the checkpointed mask RDD has no Catalyst stats, so
        without the hint this planned as 3 sort-merge joins re-sorting
        all E rows per level). The hint is SIZE-GATED
        (broadcast_if_bounded): a bare F.broadcast() hard-fails
        past 8 GiB / 512M rows instead of degrading, so the
        hash-join-at-scale path only exists because the gate lifts
        the hint past the V bound — the per-level cost stays O(E)
        either way."""
        contrib = (p1.join(broadcast_if_bounded(
                       r.select(F.col("v").alias("u"), "m"), sf_dir), "u")
                   .select("v", "m"))
        return (contrib.unionAll(r)
                .groupBy("v")
                .agg(F.bit_or("m").alias("m")))

    r1 = widen(r0).localCheckpoint(eager=False)   # reused: widen + fold
    r2 = widen(r1).localCheckpoint(eager=False)
    r3 = widen(r2)

    # masks only GROW (widen ORs the prior level in), so the exact shell
    # sizes are first differences of ball sizes: n_d = |ball_d| −
    # |ball_{d-1}|, with |ball_0| = 1 (the seed itself) — no per-vertex
    # level reconstruction join needed. All three level counts fold in
    # ONE bounded 32-position explode + one combinable shuffle.
    balls = (r1.select(F.lit(1).alias("lv"), "m")
             .unionAll(r2.select(F.lit(2).alias("lv"), "m"))
             .unionAll(r3.select(F.lit(3).alias("lv"), "m"))
             .select("lv",
                     F.explode(F.sequence(
                         F.lit(0), F.lit(_CLOSENESS_SEEDS - 1))).alias("i"),
                     F.expr("shiftright(m, i) & CAST(1 AS BIGINT)")
                     .alias("b")))
    c = (balls.groupBy("i")
         .agg(F.sum(F.when(F.col("lv") == 1, F.col("b")))
              .cast("bigint").alias("c1"),
              F.sum(F.when(F.col("lv") == 2, F.col("b")))
              .cast("bigint").alias("c2"),
              F.sum(F.when(F.col("lv") == 3, F.col("b")))
              .cast("bigint").alias("c3"))
         .join(F.broadcast(sbits), "i")
         .select(F.col("s"),
                 (F.col("c1") - 1).cast("bigint").alias("n1"),
                 (F.col("c2") - F.col("c1")).cast("bigint").alias("n2"),
                 (F.col("c3") - F.col("c2")).cast("bigint").alias("n3")))
    harm = (F.col("n1").cast("double") + F.col("n2").cast("double") / 2.0
            + F.col("n3").cast("double") / 3.0)
    return (c.select(F.col("s").cast("bigint").alias("partkey"),
                     "n1", "n2", "n3",
                     F.round(harm, 6).alias("harmonic_3"))
            .orderBy(F.col("harmonic_3").desc(), "partkey"))


# ---------------------------------------------------------------------------
# local bridges (Granovetter weak ties)
# ---------------------------------------------------------------------------

_LOCAL_BRIDGES_ORACLE = """
WITH raw AS (
  SELECT l_partkey AS src,
         lead(l_partkey) OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_partkey,
                                        l_suppkey) AS dst
  FROM lineitem
), e0 AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE dst IS NOT NULL AND src <> dst
), adj AS (
  SELECT a AS v, b AS u FROM e0 UNION ALL SELECT b, a FROM e0
), common AS (
  SELECT e0.a, e0.b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM e0
  JOIN adj x ON x.v = e0.a
  JOIN adj y ON y.v = e0.b AND y.u = x.u
  GROUP BY e0.a, e0.b
), flagged AS (
  SELECT e0.a, e0.b,
         COALESCE(common.n_common, 0) = 0 AS is_local_bridge
  FROM e0 LEFT JOIN common ON common.a = e0.a AND common.b = e0.b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(COUNT(*) FILTER (WHERE is_local_bridge) AS BIGINT)
         AS n_local_bridges,
       round(CAST(COUNT(*) FILTER (WHERE is_local_bridge) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS bridge_share
FROM flagged
"""


@register("graph_local_bridges", oracle=_LOCAL_BRIDGES_ORACLE)
def graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local bridges in the co-purchase graph: edges whose endpoints
    share NO common neighbor (span > 2) — Granovetter's weak ties, the
    edges whose removal actually lengthens paths, and the structural
    opposite of what graph_triangle_count / clustering_coefficient
    measure (an edge in any triangle can never be a local bridge).
    Common-neighbor counts come from the same wedge join the triangle
    family uses; edges missing from the wedge output have zero common
    neighbors via the LEFT join + COALESCE.

    Scale shape: one wedge equi-join pair (the O(Σdeg²) triangle-count
    budget — the known cost of any common-neighbor statistic) + one
    combinable edge-grain fold to a single summary row."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    e0 = (_undirected(raw).distinct()
          .localCheckpoint(eager=False))  # edge set feeds both sides
    # an edge has a common neighbor iff it lies in a triangle, so the
    # degree-ordered oriented wedge probe (Θ(E^1.5) wedge volume) stands
    # in for the UNORIENTED Σdeg² wedge join edge ⋈ adj ⋈ adj (a
    # ~20M-row intermediate at sf0.1, the family's biggest). Each
    # closing wedge credits its three edges; edges never credited are
    # the local bridges — flagged by ONE anti-join instead of a 20M-row
    # groupBy (the per-edge common-neighbor count is only ever compared
    # against 0).
    _, tri = _oriented_triangles(e0, sf_dir)
    credit = _triangle_edges(tri)
    bridges = (e0.join(credit, ["a", "b"], "left_anti")
               .agg(F.count(F.lit(1)).cast("bigint")
                    .alias("n_local_bridges")))
    n_edges = e0.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    # try_divide: an empty (e.g. empty-shard) edge set
    # must report NULL share, not raise ANSI DIVIDE_BY_ZERO on 0/0
    return (n_edges.crossJoin(bridges)
            .select("n_edges", "n_local_bridges",
                    F.round(F.try_divide(
                        F.col("n_local_bridges").cast("double"),
                        F.col("n_edges").cast("double")), 6)
                    .alias("bridge_share")))


# ---------------------------------------------------------------------------
# average-neighbor-degree curve k_nn(k)
# ---------------------------------------------------------------------------

_KNN_DEGREE_ORACLE = """
WITH raw AS (
  SELECT l_partkey AS src,
         lead(l_partkey) OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_partkey,
                                        l_suppkey) AS dst
  FROM lineitem
), e0 AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE dst IS NOT NULL AND src <> dst
), adj AS (
  SELECT a AS v, b AS u FROM e0 UNION ALL SELECT b, a FROM e0
), deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS k FROM adj GROUP BY v
), snd AS (
  SELECT adj.v, CAST(SUM(du.k) AS BIGINT) AS sum_nbr_deg
  FROM adj JOIN deg du ON du.v = adj.u
  GROUP BY adj.v
)
SELECT deg.k AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_vertices,
       round(CAST(SUM(snd.sum_nbr_deg) AS DOUBLE)
             / (CAST(deg.k AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)), 6)
         AS avg_neighbor_degree
FROM deg JOIN snd ON snd.v = deg.v
GROUP BY deg.k ORDER BY degree
"""


@register("graph_avg_neighbor_degree", oracle=_KNN_DEGREE_ORACLE)
def graph_avg_neighbor_degree(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Average-neighbor-degree curve k_nn(k) over the co-purchase
    graph: for each degree class, the mean degree of its vertices'
    neighbors — the DETAIL VIEW behind graph_assortativity_degree's
    single coefficient (a falling curve = hubs attach to leaves, the
    disassortative signature; rising = rich-club mixing, read beside
    graph_rich_club_coefficient). Per-vertex neighbor-degree sums are
    exact integer folds off one degree-decorated edge join; the
    per-class mean is one division of exact sums.

    Scale shape: one degree fold, one edge⋈degree equi-join + vertex
    fold (the SpMV shape), one ≤max-degree-row class fold."""
    raw = (_transitions(load_table(spark, "lineitem", sf_dir))
           .where(F.col("src") != F.col("dst")))
    e0 = _undirected(raw).distinct()
    adj = (e0.select(F.col("a").alias("v"), F.col("b").alias("u"))
           .unionAll(e0.select(F.col("b").alias("v"),
                               F.col("a").alias("u")))
           .localCheckpoint(eager=False))  # degree + SpMV share it
    # the O(V) degree table feeds two subtrees (the SpMV join's u-side
    # and the final per-vertex join) — pin it so the 2E-row degree
    # shuffle runs once per query (the _oriented_triangles A/B).
    deg = (adj.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
           .localCheckpoint(eager=False))
    snd = (adj.join(deg.select(F.col("v").alias("u"),
                               F.col("k").alias("ku")), "u")
           .groupBy("v")
           .agg(F.sum("ku").cast("bigint").alias("sum_nbr_deg")))
    joined = deg.join(snd, "v")
    return (joined.groupBy("k")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
                 F.sum("sum_nbr_deg").cast("bigint").alias("s"))
            .select(F.col("k").alias("degree"), "n_vertices",
                    F.round(F.col("s").cast("double")
                            / (F.col("k").cast("double")
                               * F.col("n_vertices").cast("double")), 6)
                    .alias("avg_neighbor_degree"))
            .orderBy("degree"))
