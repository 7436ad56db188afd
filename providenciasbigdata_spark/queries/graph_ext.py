"""Graph extensions beyond the reference's anchored 1-hop page
(streamlit_app.py:60-64 only ever needs one hop from a bound anchor):
multi-hop expansion and degree analytics over the same
nodes/edges-as-DataFrames model (SURVEY.md §1.4) — the GraphFrames
motif pattern, expressed as plain joins so Catalyst plans them.

Edges derive from ``embeddings`` (cosine x 100, compat.graph). The
exact pairwise build here is fixture-scale; the 100 TB path swaps in
operators.similarity.srp_lsh_pairs for candidate generation (same
downstream joins, approximate edge set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from providenciasbigdata_spark.compat.graph import build_similarity_edges, cosine
from providenciasbigdata_spark.io import load_table
from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges
from providenciasbigdata_spark.session import local_frame

_HOP_LO = 30.0  # similitud >= 30 keeps hop fan-out small on the fixtures


def q_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored 2-hop directed expansion: P-7 -[s1>=30]-> mid
    -[s2>=30]-> dest (dest != anchor). Hop 1 is an O(n) anchored scan;
    hop 2 joins the (small) intermediate set against the corpus — the
    intermediate side broadcasts."""
    emb = load_table(spark, sf_dir, "embeddings")
    hop1 = build_similarity_edges(emb, anchor_vec_id=7).filter(
        F.col("similitud") >= _HOP_LO
    )
    mids = hop1.select(
        F.col("dst").alias("intermedio"), F.col("similitud").alias("s1")
    )
    mid_vecs = mids.join(
        emb.select(
            F.concat(F.lit("P-"), F.col("vec_id").cast("string")).alias("intermedio"),
            F.col("embedding").alias("emb_mid"),
        ),
        "intermedio",
    )
    right = emb.select(
        F.concat(F.lit("P-"), F.col("vec_id").cast("string")).alias("destino"),
        F.col("embedding").alias("emb_dst"),
    )
    pairs = F.broadcast(mid_vecs).join(
        right, F.col("intermedio") != F.col("destino")
    )
    s2 = F.round(cosine(F.col("emb_mid"), F.col("emb_dst")) * 100, 4)
    return (
        pairs.select(
            F.lit("P-7").alias("origen"), "intermedio", "destino", "s1", s2.alias("s2")
        )
        .filter((F.col("s2") >= _HOP_LO) & (F.col("destino") != "P-7"))
    )


_COS_SQL = (
    "ROUND(list_cosine_similarity(CAST({a}.embedding AS DOUBLE[]), "
    "CAST({b}.embedding AS DOUBLE[])) * 100, 4)"
)

_TWO_HOP_SQL = f"""
WITH hop1 AS (
  SELECT 'P-' || CAST(m.vec_id AS VARCHAR) AS intermedio,
         {_COS_SQL.format(a='a', b='m')} AS s1,
         m.embedding AS emb_mid
  FROM embeddings a JOIN embeddings m ON m.vec_id <> a.vec_id
  WHERE a.vec_id = 7 AND {_COS_SQL.format(a='a', b='m')} >= 30
)
SELECT 'P-7' AS origen, h.intermedio, 'P-' || CAST(d.vec_id AS VARCHAR) AS destino,
       h.s1,
       ROUND(list_cosine_similarity(CAST(h.emb_mid AS DOUBLE[]),
                                    CAST(d.embedding AS DOUBLE[])) * 100, 4) AS s2
FROM hop1 h
JOIN embeddings d
  ON 'P-' || CAST(d.vec_id AS VARCHAR) <> h.intermedio
WHERE ROUND(list_cosine_similarity(CAST(h.emb_mid AS DOUBLE[]),
                                   CAST(d.embedding AS DOUBLE[])) * 100, 4) >= 30
  AND 'P-' || CAST(d.vec_id AS VARCHAR) <> 'P-7'
"""


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree distribution of the similarity graph at similitud >=
    30: degree -> node count. The edge build is the fully-distributed
    tile-blocked all-pairs path (operators.similarity.
    pairwise_cosine_blocked): per-task work/memory O(block^2),
    independent of corpus size — the plan that survives a corpus that
    no longer fits one broadcast (the driver-materializing
    pairwise_cosine_matmul is kept for explicitly-bounded corpora;
    operators.similarity.pairwise_cosine dispatches on size). Two-phase
    agg after; no row explosion beyond the thresholded edge set."""
    from providenciasbigdata_spark.operators.similarity import pairwise_cosine_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    # block_size=512: >=10 parallel tiles at fixture scale, measured
    # within ~0.3s of the broadcast matmul at sf0.1
    edges = pairwise_cosine_blocked(emb, threshold=_HOP_LO, scale=100.0, block_size=512)
    degrees = edges.groupBy("left_id").agg(F.count("*").alias("degree"))
    return degrees.groupBy("degree").agg(F.count("*").alias("n_nodes"))


_DEGREE_SQL = f"""
WITH edges AS (
  SELECT a.vec_id AS src
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE {_COS_SQL.format(a='a', b='b')} >= 30
), degrees AS (
  SELECT src, COUNT(*) AS degree FROM edges GROUP BY src
)
SELECT degree, COUNT(*) AS n_nodes FROM degrees GROUP BY degree
"""


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component label per node of the similitud>=30 graph (bounded to
    150 vectors so the fixed-point loop stays fast at fixture scale).
    Spark side is the iterative min-label propagation
    (operators.graph_algos); the oracle reproduces the fixed point with
    a recursive reachability CTE + MIN over each node's reachable set —
    same labels because both converge to min-id-in-component (string
    order on both engines)."""
    from providenciasbigdata_spark.operators.graph_algos import connected_components

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return connected_components(edges)


# Undirected (symmetrized) edge set of the bounded similarity graph —
# shared by the CC/BFS oracles below. Cosine is symmetric, so the
# a<>b all-pairs join already contains both directions.
_SYM_EDGES_150_SQL = f"""
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS u,
         'P-' || CAST(b.vec_id AS VARCHAR) AS v
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 150 AND b.vec_id < 150
    AND {_COS_SQL.format(a='a', b='b')} >= 30
"""

_CC_SQL = f"""
WITH RECURSIVE sym AS MATERIALIZED ({_SYM_EDGES_150_SQL}),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)
SELECT u AS id, LEAST(u, MIN(v)) AS component
FROM reach GROUP BY u
"""


def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from P-7 over the similitud>=30 graph (bounded to
    150 vectors), frontier BFS — the arbitrary-depth generalization of
    the reference's 1-hop page. Spark drives the frontier loop;
    the oracle is a recursive min-hop CTE (UNION-distinct bounds the
    row set to nodes x hops even through cycles)."""
    from providenciasbigdata_spark.operators.graph_algos import bfs_distances

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return bfs_distances(edges, "P-7", max_hops=4)


_BFS_SQL = f"""
WITH RECURSIVE e AS MATERIALIZED ({_SYM_EDGES_150_SQL}),
reach(id, hops) AS (
  SELECT v, 1 FROM e WHERE u = 'P-7'
  UNION
  SELECT e.v, r.hops + 1 FROM reach r JOIN e ON e.u = r.id WHERE r.hops < 4)
SELECT 'P-7' AS id, 0 AS hops
UNION ALL
SELECT id, CAST(MIN(hops) AS INT) AS hops
FROM reach WHERE id <> 'P-7' GROUP BY id
"""


def q_sssp_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest path from P-7 where edge length = 100 -
    similitud (more similar = closer) over the bounded similarity
    graph: hop-bounded Bellman-Ford, oracle = path-enumerating
    recursive CTE (identical doubles — see sssp_distances FP note)."""
    from providenciasbigdata_spark.operators.graph_algos import sssp_distances

    edges = (
        staged_similarity_edges(spark, sf_dir, 150)
        .filter(F.col("similitud") >= _HOP_LO)
        .withColumn("w", F.lit(100.0) - F.col("similitud"))
    )
    d = sssp_distances(edges, "P-7", max_hops=4)
    return d.select("id", F.round("d", 6).alias("dist"))


_SSSP_SQL = f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS u,
         'P-' || CAST(b.vec_id AS VARCHAR) AS v,
         100.0 - {_COS_SQL.format(a='a', b='b')} AS w
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 150 AND b.vec_id < 150
    AND {_COS_SQL.format(a='a', b='b')} >= 30
), paths(id, d, hop) AS (
  SELECT 'P-7', 0.0, 0
  UNION
  SELECT e.v, p.d + e.w, p.hop + 1
  FROM paths p JOIN e ON e.u = p.id WHERE p.hop < 4
)
SELECT id, ROUND(MIN(d), 6) AS dist FROM paths GROUP BY id
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration power-method PageRank over the bounded similarity
    graph. The cosine graph is symmetric, so there are no dangling
    nodes and the oracle can UNROLL the five iterations as chained
    CTEs (recursive terms can't aggregate over the recursive relation;
    a fixed iteration count needs no recursion). Float summation-order
    differences are ~1e-14 — far below the 6-digit round."""
    from providenciasbigdata_spark.operators.graph_algos import pagerank

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return pagerank(edges, max_iter=5).select(
        "id", F.round("rank", 6).alias("rank")
    )


def _pagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""pr{k} AS (
  SELECT nodes.id,
         CAST({1 - damping} AS DOUBLE) / (SELECT n FROM nn)
           + CAST({damping} AS DOUBLE) * COALESCE(s.inflow, 0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.v AS id, SUM(p.rank / d.deg) AS inflow
    FROM e JOIN pr{k - 1} p ON p.id = e.u JOIN deg d ON d.u = e.u
    GROUP BY e.v) s ON s.id = nodes.id)"""
        )
    chained = ",\n".join(steps)
    return f"""
WITH e AS MATERIALIZED (SELECT DISTINCT u, v FROM ({_SYM_EDGES_150_SQL})),
nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT u, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY u),
pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes),
{chained}
SELECT id, ROUND(rank, 6) AS rank FROM pr{iters}
"""


def q_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration eigenvector centrality (round 7): x ← Aᵀx with
    MAX-normalization — the Bonacich measure; central nodes are those
    pointed at by central nodes. Max-normalization keeps every
    order-sensitive term down to the per-node in-sum (the same grouped
    double sum PageRank's oracle hashes under the 6-digit round — the
    max itself is accumulation-order-free). Oracle unrolls the 4
    iterations as chained MATERIALIZED CTEs."""
    from providenciasbigdata_spark.operators.graph_algos import (
        eigenvector_centrality,
    )

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return eigenvector_centrality(edges, max_iter=4).select(
        "id", F.round("score", 6).alias("score")
    )


def _eigenvector_sql(iters: int = 4) -> str:
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""inflow{k} AS MATERIALIZED (
  SELECT e.v AS id, SUM(p.score) AS nxt
  FROM e JOIN x{k - 1} p ON p.id = e.u GROUP BY e.v),
m{k} AS (SELECT MAX(nxt) AS m FROM inflow{k}),
x{k} AS MATERIALIZED (
  SELECT nodes.id,
         CASE WHEN (SELECT m FROM m{k}) > 0
              THEN COALESCE(s.nxt, 0) / (SELECT m FROM m{k})
              ELSE COALESCE(s.nxt, 0) END AS score
  FROM nodes LEFT JOIN inflow{k} s ON s.id = nodes.id)"""
        )
    chained = ",\n".join(steps)
    return f"""
WITH e AS MATERIALIZED (SELECT DISTINCT u, v FROM ({_SYM_EDGES_150_SQL})),
nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
x0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS score FROM nodes),
{chained}
SELECT id, ROUND(score, 6) AS score FROM x{iters}
"""


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank: transition probability ∝ edge similitud over
    the source's total out-weight — the similarity-graph random walk
    (heavier SIMILAR edges pull more rank). Same one-job-per-iteration
    skeleton; out-degree becomes out-strength. Oracle unrolls the
    weighted iterations as chained CTEs (symmetric graph, no dangling
    mass); sum-order noise ~1e-14 under the 6-digit round."""
    from providenciasbigdata_spark.operators.graph_algos import pagerank

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return pagerank(edges, max_iter=5, weight_col="similitud").select(
        "id", F.round("rank", 6).alias("rank")
    )


def _pagerank_weighted_sql(iters: int = 5, damping: float = 0.85) -> str:
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""pr{k} AS (
  SELECT nodes.id,
         CAST({1 - damping} AS DOUBLE) / (SELECT n FROM nn)
           + CAST({damping} AS DOUBLE) * COALESCE(s.inflow, 0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.v AS id, SUM(p.rank * e.w / d.deg) AS inflow
    FROM e JOIN pr{k - 1} p ON p.id = e.u JOIN deg d ON d.u = e.u
    GROUP BY e.v) s ON s.id = nodes.id)"""
        )
    chained = ",\n".join(steps)
    return f"""
WITH e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS u,
         'P-' || CAST(b.vec_id AS VARCHAR) AS v,
         {_COS_SQL.format(a='a', b='b')} AS w
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 150 AND b.vec_id < 150
    AND {_COS_SQL.format(a='a', b='b')} >= 30),
nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT u, SUM(w) AS deg FROM e GROUP BY u),
pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes),
{chained}
SELECT id, ROUND(rank, 6) AS rank FROM pr{iters}
"""


def q_degree_histogram_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram through the blocked all-pairs path at a larger
    block size (operators.similarity.pairwise_cosine_blocked): no
    driver-side matrix, no broadcast — per-task work is one
    block x block BLAS tile. Oracle-checked against the same SQL as
    graph_degree_histogram, which pins blocked == broadcast results."""
    from providenciasbigdata_spark.operators.similarity import pairwise_cosine_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    edges = pairwise_cosine_blocked(emb, threshold=_HOP_LO, scale=100.0, block_size=1024)
    degrees = edges.groupBy("left_id").agg(F.count("*").alias("degree"))
    return degrees.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count of the undirected similitud>=30 graph.
    Canonical ordering (x < y on every edge) means each triangle is
    counted exactly once as the ordered path x<y<z closed by edge
    (x,z) — the standard degree-ordered triangle join. All three
    self-joins key on edge endpoints; at 100 TB the edge set is the
    LSH-approximate one (srp_lsh_pairs) and the same joins apply."""
    emb = load_table(spark, sf_dir, "embeddings")
    from providenciasbigdata_spark.operators.similarity import pairwise_cosine_matmul

    pairs = pairwise_cosine_matmul(emb, threshold=_HOP_LO, scale=100.0)
    und = pairs.filter(F.col("left_id") < F.col("right_id")).select(
        F.col("left_id").alias("x"), F.col("right_id").alias("y")
    )
    e2 = und.select(F.col("x").alias("y2"), F.col("y").alias("z"))
    e3 = und.select(F.col("x").alias("x3"), F.col("y").alias("z3"))
    wedges = und.join(e2, und.y == e2.y2)
    closed = wedges.join(
        e3, (wedges.x == e3.x3) & (F.col("z") == F.col("z3")), "left_semi"
    )
    return closed.agg(F.count("*").cast("bigint").alias("n_triangles"))


_TRIANGLE_SQL = f"""
WITH sims AS MATERIALIZED (
  SELECT a.vec_id AS x, b.vec_id AS y
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a='a', b='b')} >= 30)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM sims e1
JOIN sims e2 ON e1.y = e2.x
JOIN sims e3 ON e3.x = e1.x AND e3.y = e2.y
"""


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-anchored personalized PageRank (teleport mass on P-27/P-58):
    proximity ranking over the bounded similarity graph — the
    recommendation primitive. Symmetric graph -> no dangling mass, so
    the oracle unrolls the 5 iterations as chained CTEs with the
    seed-concentrated teleport term."""
    from providenciasbigdata_spark.operators.graph_algos import personalized_pagerank

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return personalized_pagerank(edges, seeds=["P-27", "P-58"], max_iter=5).select(
        "id", F.round("rank", 6).alias("rank")
    )


def _ppr_sql(iters: int = 5, damping: float = 0.85) -> str:
    tele = "CASE WHEN nodes.id IN ('P-27', 'P-58') THEN 0.5 ELSE 0.0 END"
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""pr{k} AS (
  SELECT nodes.id,
         CAST({1 - damping} AS DOUBLE) * {tele}
           + CAST({damping} AS DOUBLE) * COALESCE(s.inflow, 0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.v AS id, SUM(p.rank / d.deg) AS inflow
    FROM e JOIN pr{k - 1} p ON p.id = e.u JOIN deg d ON d.u = e.u
    GROUP BY e.v) s ON s.id = nodes.id)"""
        )
    chained = ",\n".join(steps)
    return f"""
WITH e AS MATERIALIZED (SELECT DISTINCT u, v FROM ({_SYM_EDGES_150_SQL})),
nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
deg AS (SELECT u, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY u),
pr0 AS (SELECT id, CASE WHEN id IN ('P-27', 'P-58') THEN 0.5 ELSE 0.0 END AS rank
        FROM nodes),
{chained}
SELECT id, ROUND(rank, 6) AS rank FROM pr{iters}
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the bounded similarity graph:
    deterministic synchronous label propagation, 4 fixed rounds
    (operators.graph_algos.label_propagation). The oracle unrolls the
    IDENTICAL rounds as chained CTEs (count + row_number tie-break per
    node per round), so the full iterative semantics — not just the
    final partition shape — is value-hash-checked."""
    from providenciasbigdata_spark.operators.graph_algos import label_propagation

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return label_propagation(edges, n_rounds=4)


def _lpa_sql(rounds: int = 4) -> str:
    steps = []
    for k in range(1, rounds + 1):
        steps.append(
            f"""lp{k} AS (
  SELECT l.id, COALESCE(w.new_lbl, l.lbl) AS lbl
  FROM lp{k - 1} l LEFT JOIN (
    SELECT u AS id, nlbl AS new_lbl FROM (
      SELECT e.u, p.lbl AS nlbl,
             ROW_NUMBER() OVER (PARTITION BY e.u
                                ORDER BY COUNT(*) DESC, p.lbl ASC) AS rn
      FROM e JOIN lp{k - 1} p ON p.id = e.v
      GROUP BY e.u, p.lbl
    ) WHERE rn = 1
  ) w ON w.id = l.id)"""
        )
    chained = ",\n".join(steps)
    return f"""
WITH e AS MATERIALIZED (SELECT DISTINCT u, v FROM ({_SYM_EDGES_150_SQL})),
nodes AS (SELECT DISTINCT u AS id FROM e),
lp0 AS (SELECT id, id AS lbl FROM nodes),
{chained}
SELECT id, lbl AS community FROM lp{rounds}
"""


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness per node of the bounded similarity graph via h-index
    iteration (operators.graph_algos.kcore_decomposition). The oracle
    unrolls the SAME iteration as chained CTEs: because the h sequence
    is monotone and its fixed point unique, any round count >= the
    rounds-to-convergence yields the identical table — 40 rounds is a
    wide margin over the fixture graph's observed convergence, and
    each round is a join+aggregate over <= 150 nodes."""
    from providenciasbigdata_spark.operators.graph_algos import kcore_decomposition

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return kcore_decomposition(edges)


def _kcore_sql(rounds: int = 40) -> str:
    hidx = "CAST(len(list_filter(list_sort(list(d.h), 'DESC'), (x,i) -> x >= i)) AS BIGINT)"
    ctes = []
    prev = "deg"
    for r in range(1, rounds + 1):
        # MATERIALIZED: inlined, the 40-deep nested chain sends the
        # optimizer exponential (measured: >200s inline vs 0.1s materialized)
        ctes.append(
            f"h{r} AS MATERIALIZED (SELECT s.u, {hidx} AS h "
            f"FROM sym s JOIN {prev} d ON s.v = d.u GROUP BY s.u)"
        )
        prev = f"h{r}"
    chained = ",\n".join(ctes)
    return f"""
WITH sym AS MATERIALIZED ({_SYM_EDGES_150_SQL}),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS h FROM sym GROUP BY u),
{chained}
SELECT u AS id, h AS core FROM {prev}
"""


def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of a DIRECTED similarity graph
    (bounded to 120 vectors): forward edges at cosine>=25 (low id ->
    high id), back edges only at >=32 — so mutual >=32 pairs form
    2-cycles and the asymmetric band forms DAG links between SCCs.
    Spark runs the trim/color/backward algorithm
    (operators.graph_algos.strongly_connected_components); the oracle
    is literal mutual reachability (recursive CTE closure joined with
    its transpose), component = MIN mutually-reachable id."""
    from providenciasbigdata_spark.operators.graph_algos import (
        strongly_connected_components,
    )
    from providenciasbigdata_spark.operators.similarity import (
        pairwise_cosine_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    pairs = pairwise_cosine_blocked(emb, threshold=25.0, scale=100.0, block_size=512)
    directed = pairs.filter(
        ((F.col("left_id") < F.col("right_id")) & (F.col("cosine") >= 25.0))
        | ((F.col("left_id") > F.col("right_id")) & (F.col("cosine") >= 32.0))
    ).select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    return strongly_connected_components(directed).select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"),
    )


_SCC_CTES = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT a.vec_id AS u, b.vec_id AS v, {_COS_SQL.format(a='a', b='b')} AS s
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 120 AND b.vec_id < 120
), d AS MATERIALIZED (
  SELECT u, v FROM pairs WHERE (u < v AND s >= 25) OR (u > v AND s >= 32)
), reach(u, v) AS (
  SELECT u, v FROM d
  UNION
  SELECT r.u, e.v FROM reach r JOIN d e ON e.u = r.v
), nodes AS (SELECT DISTINCT u AS id FROM d UNION SELECT DISTINCT v FROM d),
mutual AS (
  SELECT r1.u AS x, r1.v AS y
  FROM reach r1 JOIN reach r2 ON r2.u = r1.v AND r2.v = r1.u
), comp AS MATERIALIZED (
  SELECT n.id, LEAST(n.id, COALESCE(MIN(m.y), n.id)) AS component
  FROM nodes n LEFT JOIN mutual m ON m.x = n.id
  GROUP BY n.id
)"""

_SCC_SQL = f"""{_SCC_CTES}
SELECT CAST(id AS BIGINT) AS id, CAST(component AS BIGINT) AS component
FROM comp
"""


def q_scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG of the directed SCC fixture graph: distinct
    (src_component, dst_component) pairs with collapsed-edge counts —
    the quotient structure that admits a topological order. Oracle
    reuses the mutual-reachability SCC closure and joins it onto the
    edge list."""
    from providenciasbigdata_spark.operators.graph_algos import scc_condensation
    from providenciasbigdata_spark.operators.similarity import (
        pairwise_cosine_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    pairs = pairwise_cosine_blocked(emb, threshold=25.0, scale=100.0, block_size=512)
    directed = pairs.filter(
        ((F.col("left_id") < F.col("right_id")) & (F.col("cosine") >= 25.0))
        | ((F.col("left_id") > F.col("right_id")) & (F.col("cosine") >= 32.0))
    ).select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    out = scc_condensation(directed)
    return out.select(
        F.col("src_comp").cast("long").alias("src_comp"),
        F.col("dst_comp").cast("long").alias("dst_comp"),
        "n_edges",
    )


_SCC_CONDENSATION_SQL = f"""{_SCC_CTES}
SELECT CAST(cu.component AS BIGINT) AS src_comp,
       CAST(cv.component AS BIGINT) AS dst_comp,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM d
JOIN comp cu ON cu.id = d.u
JOIN comp cv ON cv.id = d.v
WHERE cu.component <> cv.component
GROUP BY cu.component, cv.component
"""


def q_closeness_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed/landmark closeness centrality over the bounded similarity
    graph: ONE multi-source BFS expands all three seeds' frontiers
    together (diameter-many rounds regardless of seed count);
    closeness = reached/total_hops, a single int/int IEEE division.
    Oracle: a recursive multi-seed min-hop CTE with the same hop cap."""
    from providenciasbigdata_spark.operators.graph_algos import closeness_from_seeds

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return closeness_from_seeds(edges, ["P-7", "P-27", "P-58"], max_hops=6)


_CLOSENESS_SQL = f"""
WITH RECURSIVE e AS MATERIALIZED ({_SYM_EDGES_150_SQL}),
seeds(seed) AS (VALUES ('P-7'), ('P-27'), ('P-58')),
reach(seed, id, hops) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT r.seed, e.v, r.hops + 1 FROM reach r JOIN e ON e.u = r.id
  WHERE r.hops < 6),
mind AS (SELECT seed, id, MIN(hops) AS d FROM reach GROUP BY seed, id)
SELECT seed,
       CAST(COUNT(*) FILTER (WHERE d > 0) AS BIGINT) AS n_reached,
       CAST(SUM(d) AS BIGINT) AS total_hops,
       CASE WHEN SUM(d) > 0
            THEN CAST(COUNT(*) FILTER (WHERE d > 0) AS DOUBLE)
                 / CAST(SUM(d) AS DOUBLE) END AS closeness
FROM mind WHERE d > 0 GROUP BY seed
"""


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction over the bounded similitud>=30 graph:
    non-adjacent pairs ranked by shared-neighbor overlap. Integer
    common/union counts are exact; the score is one int/int IEEE
    division (correctly rounded -> engine-identical)."""
    from providenciasbigdata_spark.operators.graph_algos import (
        link_prediction_jaccard,
    )

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return link_prediction_jaccard(edges, min_common=2)


_LINK_PRED_SQL = f"""
WITH sym AS MATERIALIZED ({_SYM_EDGES_150_SQL}),
und AS (SELECT DISTINCT u, v FROM sym),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
pairs AS (
  SELECT t1.v AS a, t2.v AS b, COUNT(*) AS n_common
  FROM und t1 JOIN und t2 ON t1.u = t2.u AND t1.v < t2.v
  GROUP BY t1.v, t2.v
  HAVING COUNT(*) >= 2),
nonadj AS (
  SELECT p.* FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.u = p.a AND e.v = p.b))
SELECT a, b, CAST(n_common AS BIGINT) AS n_common,
       CAST(da.d + db.d - n_common AS BIGINT) AS n_union,
       CAST(n_common AS DOUBLE) / CAST(da.d + db.d - n_common AS DOUBLE) AS jaccard
FROM nonadj JOIN deg da ON da.u = nonadj.a JOIN deg db ON db.u = nonadj.b
"""


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: 2·T(v) / (deg(v)·(deg(v)−1)),
    the closed-wedge fraction — the node-centric density measure
    completing the triangle-count (global) and k-truss (edge-centric)
    story. Triangles enumerate ONCE via the canonical x<y<z ordered
    join (same shape as q_triangle_count, inner-joined instead of
    semi-joined so each triangle row can credit all three corners via
    one explode — O(T) rows, no per-node wedge materialization).
    deg<2 nodes get 0.0 without tripping ANSI divide-by-zero. The
    coefficient is ONE IEEE division of two exact BIGINTs (2·T exact
    in double far below 2^53), so both engines produce the identical
    correctly-rounded double — value-hash-safe without rounding (the
    graph_link_prediction precedent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    from providenciasbigdata_spark.operators.similarity import pairwise_cosine_matmul

    pairs = pairwise_cosine_matmul(emb, threshold=_HOP_LO, scale=100.0)
    und = pairs.filter(F.col("left_id") < F.col("right_id")).select(
        F.col("left_id").alias("x"), F.col("right_id").alias("y")
    )
    e2 = und.select(F.col("x").alias("y2"), F.col("y").alias("z"))
    e3 = und.select(F.col("x").alias("x3"), F.col("y").alias("z3"))
    tri = (
        und.join(e2, und.y == e2.y2)
        .join(e3, (und.x == F.col("x3")) & (F.col("z") == F.col("z3")))
        .select("x", "y", "z")
    )
    tcnt = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("tri"))
    )
    deg = (
        und.select(F.col("x").alias("id"))
        .unionAll(und.select(F.col("y").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    t = F.coalesce(F.col("tri"), F.lit(0)).cast("bigint")
    return (
        deg.join(tcnt, "id", "left")
        .select(
            F.col("id").cast("bigint").alias("id"),
            F.col("degree").cast("bigint").alias("degree"),
            t.alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                (F.lit(2.0) * t) / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
        .orderBy("id")
    )


_CLUSTERING_SQL = f"""
WITH sims AS MATERIALIZED (
  SELECT a.vec_id AS x, b.vec_id AS y
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a='a', b='b')} >= 30),
tri AS (
  SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM sims e1
  JOIN sims e2 ON e1.y = e2.x
  JOIN sims e3 ON e3.x = e1.x AND e3.y = e2.y),
tcnt AS (
  SELECT id, COUNT(*) AS tri FROM (
    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY id),
deg AS (
  SELECT id, COUNT(*) AS degree FROM (
    SELECT x AS id FROM sims UNION ALL SELECT y FROM sims)
  GROUP BY id)
SELECT CAST(d.id AS BIGINT) AS id,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(t.tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN (2.0 * COALESCE(t.tri, 0)) / (d.degree * (d.degree - 1))
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN tcnt t ON t.id = d.id
ORDER BY id
"""


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over every edge, both orientations — ONE number
    telling whether hubs attach to hubs (r>0) or to leaves (r<0), the
    first summary a graph-shape audit reports. Shape: degree aggregate
    + one edges⋈degrees⋈degrees join + five EXACT BIGINT sums (degrees
    and their products are integers, so every moment is exact — no
    float accumulation order anywhere), then one identical-order
    double formula — value-hash-safe unrounded. Round 11 (sf1.0
    capstone finding): the edge build goes through the size-DISPATCHED
    pairwise_cosine instead of the driver-materializing matmul — the
    broadcast path was fine at fixture scale but is exactly the plan
    that dies first on an unbounded corpus; the dispatcher keeps the
    matmul while the corpus fits one broadcast and switches to the
    tile-blocked kernel beyond (identical output, pinned)."""
    from providenciasbigdata_spark.operators.similarity import pairwise_cosine

    # Round-13 optimization (guide §2.4/§5): persist the SLIM pair list
    # itself — the O(n^2) cosine kernel's output, projected to the two
    # id columns — and derive BOTH consumers (degrees and the edge
    # stream) from the cache, so the kernel executes exactly ONCE per
    # query. The previous shape persisted only the degree table; the
    # edge branch re-ran the kernel a second time inside the same job
    # (the round-12 fix had already cut ~5x to 2x — this takes 2x to
    # 1x; at fixture scale 5.3s -> 2.7s in-bench, and the pairs cache
    # is edge-list-sized, the same footprint every graph operator's
    # working set already carries).
    pairs = (
        pairwise_cosine(
            load_table(spark, sf_dir, "embeddings"), threshold=_HOP_LO, scale=100.0
        )
        .select("left_id", "right_id")
        .persist()
    )
    # Degree straight off the ORDERED pair list: cosine is symmetric
    # and pairwise_cosine emits both orientations (never self-pairs),
    # so the count per left_id IS the undirected degree.
    deg = (
        pairs.groupBy(F.col("left_id").alias("id"))
        .agg(F.count("*").cast("bigint").alias("d"))
        .persist()
    )
    # one job: materializes the pairs cache AND the degree cache, with
    # the kernel running once
    deg.count()
    # both orientations of every undirected edge are already present in
    # the cached pair list, so joining degrees onto it directly yields
    # exactly the former und ∪ und-swapped (dx, dy) multiset without a
    # union of two kernel branches
    both = (
        pairs.join(deg.withColumnRenamed("id", "left_id").withColumnRenamed("d", "dx"), "left_id")
        .join(deg.withColumnRenamed("id", "right_id").withColumnRenamed("d", "dy"), "right_id")
        .select("dx", "dy")
    )
    s = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    out = s.select(
        F.col("n").alias("n_endpoints"),
        (num / F.sqrt(vx * vy)).alias("assortativity"),
    )
    # The result is ONE row: materialize it eagerly so the persisted
    # degree table can be released here instead of leaking executor
    # cache into the caller's session (ADVICE r12 — bench.py cleaned
    # up between queries, but a library caller embedding this in a
    # longer session would not). Driver-bounded by construction.
    rows = out.collect()
    deg.unpersist()
    pairs.unpersist()
    return local_frame(spark, rows, schema=out.schema)


_ASSORTATIVITY_SQL = f"""
WITH sims AS MATERIALIZED (
  SELECT a.vec_id AS x, b.vec_id AS y
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {{cos}} >= 30),
deg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT x AS id FROM sims UNION ALL SELECT y FROM sims)
  GROUP BY id),
e AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM sims JOIN deg dx ON dx.id = sims.x JOIN deg dy ON dy.id = sims.y),
oriented AS (
  SELECT dx, dy FROM e UNION ALL SELECT dy AS dx, dx AS dy FROM e),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy
  FROM oriented)
SELECT n AS n_endpoints,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
         AS assortativity
FROM s
"""


QUERIES = {
    "graph_clustering_coefficient": (q_clustering_coefficient, _CLUSTERING_SQL),
    "graph_assortativity": (
        q_degree_assortativity,
        _ASSORTATIVITY_SQL.format(cos=_COS_SQL.format(a="a", b="b")),
    ),
    "graph_two_hop": (q_two_hop, _TWO_HOP_SQL),
    "graph_link_prediction": (q_link_prediction, _LINK_PRED_SQL),
    "graph_closeness_seeds": (q_closeness_seeds, _CLOSENESS_SQL),
    "graph_scc": (q_graph_scc, _SCC_SQL),
    "graph_scc_condensation": (q_scc_condensation, _SCC_CONDENSATION_SQL),
    "graph_kcore": (q_kcore, _kcore_sql()),
    "graph_label_propagation": (q_label_propagation, _lpa_sql()),
    "graph_personalized_pagerank": (q_personalized_pagerank, _ppr_sql()),
    "graph_triangle_count": (q_triangle_count, _TRIANGLE_SQL),
    "graph_degree_histogram": (q_degree_histogram, _DEGREE_SQL),
    "graph_degree_histogram_blocked": (q_degree_histogram_blocked, _DEGREE_SQL),
    "graph_connected_components": (q_connected_components, _CC_SQL),
    "graph_bfs_distances": (q_bfs_distances, _BFS_SQL),
    "graph_weighted_sssp": (q_sssp_distances, _SSSP_SQL),
    "graph_pagerank": (q_pagerank, _pagerank_sql()),
    "graph_pagerank_weighted": (q_pagerank_weighted, _pagerank_weighted_sql()),
    "graph_eigenvector_centrality": (
        q_eigenvector_centrality, _eigenvector_sql()
    ),
}


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the bounded similarity graph: every surviving edge
    sits in >= 2 triangles — the edge-centric cohesion core.
    Oracle-checked since round 11: the set-at-a-time peel replays as a
    DuckDB recursive CTE (one recursion step per round, same canonical
    triangle join, simultaneous drop), run to a fixed iteration bound —
    the k-truss is a fixed point, so extra rounds reproduce it
    unchanged and the final-iteration rows ARE the truss. Threshold 20
    (was _HOP_LO=30, whose 4-truss is empty at every fixture scale):
    a 30-edge cohesion core survives at sf0.01, so the hash row pins
    real structure, not just absence. Also pinned against a
    pure-Python reference in tests/test_graph_algos.py."""
    from providenciasbigdata_spark.operators.graph_algos import ktruss

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= 20.0
    )
    return ktruss(edges, k=4)


_KTRUSS_SQL = f"""
WITH RECURSIVE e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST('P-' || a.vec_id, 'P-' || b.vec_id) AS u,
                  GREATEST('P-' || a.vec_id, 'P-' || b.vec_id) AS v
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 150 AND b.vec_id < 150
    AND {_COS_SQL.format(a='a', b='b')} >= 20
),
peel(iter, u, v) AS (
  SELECT 0, u, v FROM e0
  UNION ALL
  SELECT iter + 1, u, v FROM (
    -- one peeling round: recompute support with the canonical
    -- triangle join over LAST round's surviving edges, drop below
    -- k-2 simultaneously (Wang & Cheng VLDB'12, the operator's shape)
    SELECT p.iter, p.u, p.v, COUNT(*) AS sup
    FROM peel p
    JOIN (SELECT u, v FROM peel UNION ALL SELECT v, u FROM peel) n1
      ON n1.u = p.u
    JOIN (SELECT u, v FROM peel UNION ALL SELECT v, u FROM peel) n2
      ON n2.u = p.v AND n2.v = n1.v
    GROUP BY p.iter, p.u, p.v
  ) s
  WHERE sup >= 2 AND iter < 16
)
SELECT u, v FROM peel WHERE iter = 16
"""

QUERIES["graph_ktruss"] = (q_ktruss, _KTRUSS_SQL)

def q_betweenness_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-sampled betweenness (Brandes-Pich): dependency-score sums
    from three landmark sources over the bounded similarity graph —
    the forward sigma pass and backward delta pass each run one
    join+aggregate per BFS level, all seeds batched in one loop.
    Oracle-checked since round 11: each dependency term is quantized
    to the 2^-20 dyadic grid inside the operator (the dsir/lm device),
    making every delta and the final betweenness EXACT dyadic sums —
    order-independent across engines — and the oracle unrolls the
    6-level forward/backward passes as chained CTEs with the same
    quantized arithmetic (bit-for-bit doubles, hash-safe unrounded).
    Also pinned EXACTLY EQUAL to a pure-Python Brandes (same
    quantization; all-nodes-seeded = exact betweenness) in
    tests/test_graph_algos.py."""
    from providenciasbigdata_spark.operators.graph_algos import betweenness_from_seeds

    edges = staged_similarity_edges(spark, sf_dir, 150).filter(
        F.col("similitud") >= _HOP_LO
    )
    return betweenness_from_seeds(
        edges, ["P-7", "P-27", "P-58"], max_hops=6
    ).orderBy("id")


def _betweenness_sql(max_hops: int = 6) -> str:
    """Unrolled Brandes over the bounded similarity graph: forward
    sigma levels l0..l{H} with a NOT EXISTS visited guard, backward
    quantized-delta levels d{H-1}..d1 (level 0 is the seed itself,
    excluded from its own tally — the operator's contract)."""
    parts = [f"""e0 AS MATERIALIZED (
  SELECT 'P-' || a.vec_id AS u, 'P-' || b.vec_id AS v
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 150 AND b.vec_id < 150
    AND {_COS_SQL.format(a='a', b='b')} >= 30
),
seeds(seed) AS (VALUES ('P-7'), ('P-27'), ('P-58')),
l0 AS (SELECT seed, seed AS id, CAST(1 AS BIGINT) AS sigma FROM seeds),
v0 AS (SELECT seed, id FROM l0)"""]
    for h in range(1, max_hops + 1):
        parts.append(f"""l{h} AS (
  SELECT l.seed, e.v AS id, SUM(l.sigma) AS sigma
  FROM l{h-1} l JOIN e0 e ON e.u = l.id
  WHERE NOT EXISTS (SELECT 1 FROM v{h-1} w WHERE w.seed = l.seed AND w.id = e.v)
  GROUP BY 1, 2
),
v{h} AS (SELECT seed, id FROM v{h-1} UNION ALL SELECT seed, id FROM l{h})""")
    parts.append(
        f"b{max_hops} AS (SELECT seed, id AS bv, sigma AS bsigma, 0.0 AS bdelta "
        f"FROM l{max_hops})"
    )
    for d in range(max_hops - 1, 0, -1):
        parts.append(f"""d{d} AS (
  SELECT c.seed, c.id,
         SUM(floor(c.sigma / b.bsigma * (1.0 + b.bdelta) * 1048576.0 + 0.5)
             / 1048576.0) AS delta
  FROM l{d} c JOIN e0 e ON e.u = c.id
  JOIN b{d+1} b ON b.seed = c.seed AND b.bv = e.v
  GROUP BY 1, 2
),
b{d} AS (
  SELECT l.seed, l.id AS bv, l.sigma AS bsigma, COALESCE(d.delta, 0.0) AS bdelta
  FROM l{d} l LEFT JOIN d{d} d ON d.seed = l.seed AND d.id = l.id
)""")
    union = " UNION ALL ".join(
        f"SELECT id, delta FROM d{d}" for d in range(1, max_hops)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, SUM(delta) AS betweenness FROM ({union}) GROUP BY id"
    )


QUERIES["graph_betweenness_seeds"] = (q_betweenness_seeds, _betweenness_sql())

WHY_NO_ORACLE: dict[str, str] = {}
