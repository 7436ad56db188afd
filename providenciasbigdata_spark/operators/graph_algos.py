"""Iterative graph algorithms over the nodes/edges DataFrame model.

The reference's graph surface is a single anchored 1-hop read
(streamlit_app.py:60-64); these are the engine-side analytics a
precomputed similarity graph enables: components, hop and weighted
distances, shortest-path counts, PageRank variants, eigenvector
centrality, k-core, k-truss, SCC, label propagation, link prediction
and seed-sampled closeness and betweenness.

One size gate decides how the fixed-point operators run. Each
collects its normalized edge set with ``session.collect_below``: up to
``_DRIVER_MAX_EDGES`` edges (~3 MB) that one action returns the edges
as Arrow columns and the same fixed point runs on the driver in
Python/numpy, because a distributed loop over a tiny graph pays
per-round scheduling and plan-analysis latency for sub-millisecond
compute. Larger inputs run the distributed loop, where the driver holds
only iteration counters and convergence counts, never row data. Both
paths give the same answer (the tests force the distributed side, empty
inputs included, by setting the constant to 0).
A driver finisher's result, like every frame this module makes on the
driver (seed frames, empty results), is an Arrow local relation
(``session.local_frame``) with the schema the distributed loop would
give: collecting it runs no Spark job.

Scale notes: each distributed iteration is one equi-join + one
partial-agg shuffle, both keyed on node id — a stable partitioning
Catalyst reuses across iterations. ``_truncator`` cuts the growing
lineage every round (otherwise plan size, not data, becomes the
bottleneck). GraphFrames/Pregel would be the library route; this stays
dependency-free.
"""

from __future__ import annotations

import itertools
import uuid
from collections import Counter

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from providenciasbigdata_spark.session import collect_below, local_frame

# Largest edge set the fixed-point operators finish on the driver.
_DRIVER_MAX_EDGES = 200_000


def _truncator(df_session, checkpoint_dir):
    """Pick the per-iteration lineage-truncation strategy.

    ``localCheckpoint`` (default) stores blocks in executor storage —
    measured fastest locally (see pagerank docstring) but NOT
    fault-tolerant: at cluster scale an executor loss kills the job.
    Passing ``checkpoint_dir`` (an HDFS/S3/shared path) switches every
    truncation point to a RELIABLE one that survives executor loss —
    the production setting for long iterative jobs on preemptible
    fleets: the frame is written as parquet to its own subdirectory of
    a directory unique to this call, and read back. Always eager, and
    the context's checkpoint directory, which other threads share, is
    left alone.
    """
    if checkpoint_dir is None:
        return lambda df, eager=True: df.localCheckpoint(eager=eager)
    run = f"{checkpoint_dir.rstrip('/')}/{uuid.uuid4().hex}"
    points = itertools.count()

    def reliable(df, eager=True):
        path = f"{run}/{next(points)}"
        df.write.parquet(path)
        return df_session.read.parquet(path)

    return reliable


def _as_edge_id(spark, dtype, value, sample):
    """``value`` coerced to the edge id type through the SAME Spark cast
    the distributed loops apply to their seed frames, so a driver
    finisher keys its dicts with values equal to the collected ids (a
    string anchor over long ids otherwise misses every adjacency
    lookup). ``sample`` is one collected id; the one-row cast job runs
    only when the Python types differ."""
    if value is None or type(value) is type(sample):
        return value
    return (
        local_frame(spark, [(str(value),)], "v string")
        .select(F.col("v").cast(dtype))
        .first()[0]
    )


def _pairs(t):
    """The collected (u, v) edges of Arrow table ``t``, in row order."""
    return zip(t["u"].to_pylist(), t["v"].to_pylist())


def _node_frame(spark, pairs, ids: DataFrame, name: str, value) -> DataFrame:
    """The driver finisher's (id, ``name``) ``pairs`` as a local relation
    typed as its distributed loop types them: ``id`` as the first column
    of ``ids``, ``name`` as the ``value`` expression."""
    id_col = F.col(ids.columns[0]).alias("id")
    return local_frame(spark, pairs, ids.select(id_col, value.alias(name)).schema)


def _adjacency(t) -> dict:
    """{u: [v, ...]} over the collected (u, v) edges."""
    adj: dict = {}
    for u, v in _pairs(t):
        adj.setdefault(u, []).append(v)
    return adj


def _bfs_hops(adj: dict, source, max_hops: int, target=None) -> dict:
    """Level-synchronous BFS on the driver: {node: hops} for every node
    within ``max_hops`` of ``source``. With ``target``, stops after the
    level where it first appears — the distributed loops' truncation."""
    hops = {source: 0}
    level = [source]
    for hop in range(1, max_hops + 1):
        nxt = {v for u in level for v in adj.get(u, ()) if v not in hops}
        if not nxt:
            break
        for v in nxt:
            hops[v] = hop
        level = list(nxt)
        if target is not None and target in nxt:
            break
    return hops


def _edge_arrays(t):
    """Driver-side arrays for the power iterations over the collected
    (u, v, w) edges: sorted node ids, their index map, and per edge the
    source index, destination index and weight. The edges come ordered
    by (source index, destination index), so the iterations' sums run
    in one order, whatever order the edges were collected in."""
    u, v = t["u"].to_pylist(), t["v"].to_pylist()
    ids = sorted(set(u) | set(v))
    ix = {x: i for i, x in enumerate(ids)}
    usrc = np.array([ix[x] for x in u], dtype=np.int64)
    vdst = np.array([ix[x] for x in v], dtype=np.int64)
    order = np.lexsort((vdst, usrc))
    return ids, ix, usrc[order], vdst[order], t["w"].to_numpy()[order]


def _weighted_edges(edges: DataFrame, src: str, dst: str, weight_col) -> DataFrame:
    """Persisted (u, v, w) transition edges for the power iterations.
    Unweighted: distinct pairs at w = 1.0. Weighted: the probability of
    following an edge is its weight over the source's total out-weight —
    the similarity-graph random walk (heavier SIMILAR edges pull more
    rank). Parallel edges collapse by SUM of weights; non-positive
    weights are dropped (they carry no transition probability)."""
    if weight_col is None:
        return (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .distinct()
            .withColumn("w", F.lit(1.0))
            .persist()
        )
    return (
        edges.filter(F.col(weight_col) > 0)
        .groupBy(F.col(src).alias("u"), F.col(dst).alias("v"))
        .agg(F.sum(F.col(weight_col).cast("double")).alias("w"))
        .persist()
    )


def _non_null(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``edges`` without its edges that have a null endpoint: a null id
    names no node, on the driver path and the distributed one alike."""
    return edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())


def _nulls_first(row: tuple) -> tuple:
    """Sort key for rows whose values may be null, nulls first."""
    return tuple((x is not None, x) for x in row)


def _endpoints(e: DataFrame) -> DataFrame:
    """Distinct node ids (``id``) incident to the (u, v) edges."""
    return (
        e.select(F.col("u").alias("id")).union(e.select(F.col("v").alias("id")))
        .distinct()
    )


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view of a directed edge list (deduped)."""
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    rev = edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    return fwd.union(rev).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    edge contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): provably O(log^2 n) rounds and
    O(log n) in practice, versus the min-label-propagation +
    pointer-jump loop this replaces, whose front crawls ONE hop per
    round past star-shaped label clusters (measured: 17 rounds on the
    62-node / diameter-19 fixture component where star contraction
    takes 6 — pointer jumps gain nothing once every local label points
    at a hub that hasn't heard the global min yet).

    Each round rewrites the edge set. Large-star links every node's
    strictly-greater neighbors to the neighborhood min — which also
    tames skewed high-degree nodes, as their neighborhoods collapse
    onto the local min immediately; small-star links the not-greater
    neighbors (and the node) to it. At the fixed point each component
    is a star centered at its min id (total order on ids =
    deterministic labels). Convergence = the contracted edge set stops
    changing, checked as (count, two independent 64-bit hash sums)
    riding the round's one materializing aggregate: a stable triple is
    accepted as set equality (collision odds < 2^-120; ``max_iter``
    bounds the loop regardless).

    Driver finisher (the module's size gate): a normalized edge set
    (self-loops included) of at most ``_DRIVER_MAX_EDGES`` edges is
    collected first and resolves with sequential union-find instead,
    into a local relation of every node's label. Labels are identical
    by construction (min id of each component).

    Edges with a null endpoint are dropped before either path, so a
    null id is no node.

    Output: (id, component), one row per node incident to an edge.
    """
    spark = edges.sparkSession
    ckpt = _truncator(spark, checkpoint_dir)
    edges = _non_null(edges, src, dst)

    def star(e: DataFrame, large: bool) -> DataFrame:
        # (node=u, neighbor=v) in both directions; m(u) = min(N(u)+{u})
        bidir = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            bidir.groupBy("u").agg(F.min("v").alias("_mv"))
            .select("u", F.least("u", "_mv").alias("m"))
        )
        if large:
            cand = bidir.filter(F.col("v") > F.col("u"))
        else:
            cand = bidir.filter(F.col("v") <= F.col("u")).union(
                mins.select("u", F.col("u").alias("v"))
            )
        # join co-partitioned with the groupBy (same key u): the
        # exchange is reused, so each star op is ~2 exchange waves
        linked = cand.join(mins, "u").filter(F.col("v") != F.col("m"))
        return linked.select(
            F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
        ).distinct()

    # the undirected edge set, self-loops kept (their nodes are nodes),
    # persisted: above the gate the loop reads it again
    norm = edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    ).distinct().persist()
    t = collect_below(norm, _DRIVER_MAX_EDGES)
    if t is not None:
        norm.unpersist()
        comp = _union_find_cc((u, v) for u, v in _pairs(t) if u != v)
        ids = set(t["u"].to_pylist()) | set(t["v"].to_pylist())
        labels = sorted((i, comp.get(i, i)) for i in ids)
        return _node_frame(spark, labels, norm, "component", F.col("u"))
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    # materialize the (possibly expensive) edge lineage ONCE — round 1
    # reads it twice (mins + cand); without this the upstream build
    # (e.g. a pairwise cosine join) re-executes
    cur = ckpt(norm.filter(F.col("u") != F.col("v")))
    norm.unpersist()
    prev_sig = None
    for _ in range(max_iter):
        cur = star(star(cur, large=True), large=False)
        # LAZY truncation fused with the convergence signature: the
        # aggregate below materializes the checkpoint blocks, so each
        # round runs ONE job (eager-ckpt + separate check measured 2x
        # the wall time on job-overhead-bound fixture graphs)
        cur = ckpt(cur, eager=False)
        sig = tuple(
            cur.agg(
                F.count("*"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.sum(F.xxhash64(F.lit(7), "u", "v").cast("decimal(38,0)")),
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    # fixed point: every edge is (component_min, member); nodes whose
    # edges were all self-loops fall back to their own id
    labels = cur.select(F.col("u").alias("id"), F.col("u").alias("component")).union(
        cur.select(F.col("v").alias("id"), F.col("u").alias("component"))
    ).distinct()
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def bfs_distances(
    edges: DataFrame,
    anchor,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
    directed: bool = True,
    checkpoint_dir: str | None = None,
    target=None,
) -> DataFrame:
    """Hop distances from one anchor node — frontier-expansion BFS.
    Generalizes the reference's 1-hop page (streamlit_app.py:60-64) and
    our 2-hop query to arbitrary depth without the O(edges^k) blowup of
    chained joins: each iteration joins only the CURRENT FRONTIER
    against the edge list (frontier sizes are graph-width-bounded) and
    anti-joins the visited set, so every node is expanded once.

    ``target``: stop expanding as soon as this node is reached (its
    minimum hop count is final the level it first appears — BFS level
    order), the shortestPath(a, b) case: levels beyond the target's
    are pure waste, so the saving is (cap - target_hops) levels — e.g.
    a 7-hop target under a 30-hop cap skips 23 join rounds; a target
    outside the component saves nothing (the frontier must drain to
    prove unreachability). The check rides the level's already-
    materialized frontier; all-distances callers just omit it.

    Driver finisher (the module's size gate): hop counts are
    integers, so the level-synchronous Python BFS reproduces the
    distributed loop's answer exactly, target truncation included.

    Output: (id, hops) for every node reachable within ``max_hops``
    (anchor included at 0); with ``target``, complete only up to the
    target's level. Edges with a null endpoint are dropped before
    either path.
    """
    edges = _non_null(edges, src, dst)
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        e = symmetrize(edges, src, dst)
    e = e.persist()
    spark = edges.sparkSession
    ckpt = _truncator(spark, checkpoint_dir)
    visited = local_frame(spark, [(anchor, 0)], "id string, hops int")
    # fixture node ids are strings ("P-7"); cast to match arbitrary types
    visited = visited.withColumn("id", F.col("id").cast(e.schema["u"].dataType))
    frontier = visited.select("id")

    t = collect_below(e, _DRIVER_MAX_EDGES)
    if t is not None:
        e.unpersist()
        if not t.num_rows:
            # no edges: the anchor alone at hop 0, typed by the same
            # cast the distributed path applies
            return visited
        dtype, sample = e.schema["u"].dataType, t["u"][0].as_py()
        hops = _bfs_hops(
            _adjacency(t),
            _as_edge_id(spark, dtype, anchor, sample),
            max_hops,
            _as_edge_id(spark, dtype, target, sample),
        )
        return local_frame(spark, sorted(hops.items()), schema=visited.schema)

    for hop in range(1, max_hops + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("id", "u"), "u")
            .select(F.col("v").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .withColumn("hops", F.lit(hop))
        )
        # LAZY truncation (round 13): the stats aggregate below is the
        # level's ONLY job — it materializes the localCheckpoint blocks
        # as a side effect (the former eager ckpt ran a separate
        # materialization job per level, 2 jobs/level -> 1)
        nxt = ckpt(nxt, eager=False)

        # frontier size and target hits ride the same aggregate
        stats = nxt.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(F.col("id") == F.lit(target), 1)
            ).alias("t") if target is not None else F.lit(0).alias("t"),
        ).first()
        if stats["n"] == 0:
            break
        visited = visited.union(nxt)
        frontier = nxt.select("id")
        if target is not None and stats["t"] > 0:
            break
    out = ckpt(visited)
    e.unpersist()
    return out


def shortest_path_sigma(
    edges: DataFrame,
    anchor,
    target,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 30,
    directed: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Length of the shortest anchor->target path AND the number of
    distinct shortest paths (Cypher's ``allShortestPaths`` cardinality)
    — Brandes' forward sigma pass restricted to one seed: BFS levels
    carry ``sigma(v)`` = number of shortest anchor->v paths, each level
    one frontier-edge join + grouped SUM + visited anti-join (level
    frames are frontier-sized, never the graph), early exit at the
    target's level (its sigma is complete the level it first appears —
    BFS level order; shortest paths cannot revisit a node, so walk
    counting and simple-path counting agree at the minimum depth).

    Output: one row (hops BIGINT, sigma BIGINT), or an empty frame if
    the target is unreachable within ``max_hops``.

    Multigraph semantics (ADVICE-r8): parallel relationships between
    the same node pair are NOT collapsed — Neo4j's allShortestPaths
    yields one path per relationship-distinct route, so each edge
    carries its multiplicity and the level sum propagates
    ``sigma * mult`` instead of deduping. Undirected multiplicity is
    the MAX of the two directions' row counts, not their sum: the
    engine's undirected edge frames (e.g. the cosine similarity graph)
    redundantly store BOTH orientations of one logical edge, and
    summing would double every path count; a frame that stores each
    undirected relationship once keeps its duplicates counted.

    Driver finisher (the module's size gate): sigma counting is integer
    arithmetic over the same level-synchronous expansion, so the Python
    loop is exact; the multiplicity table comes from the Spark
    aggregate either way. Edges with a null endpoint are dropped
    before either path, so no path runs through a null id.
    """
    spark = edges.sparkSession
    if anchor == target:
        return local_frame(spark, [(0, 1)], "hops long, sigma long")
    fwd = _non_null(edges, src, dst).select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if directed:
        e = fwd.groupBy("u", "v").agg(F.count(F.lit(1)).alias("mult"))
    else:
        cnt = fwd.groupBy("u", "v").agg(F.count(F.lit(1)).alias("c"))
        e = (
            cnt.union(cnt.select(F.col("v").alias("u"), F.col("u").alias("v"), "c"))
            .groupBy("u", "v")
            .agg(F.max("c").alias("mult"))
        )
    e = e.persist()
    ckpt = _truncator(spark, checkpoint_dir)
    level = local_frame(spark, [(anchor, 1)], "id string, sigma long")
    level = level.withColumn("id", F.col("id").cast(e.schema["u"].dataType))
    visited = level.select("id")

    t = collect_below(e, _DRIVER_MAX_EDGES)
    if t is not None:
        e.unpersist()
        if not t.num_rows:
            return local_frame(spark, [], "hops long, sigma long")
        dtype, sample = e.schema["u"].dataType, t["u"][0].as_py()
        anchor = _as_edge_id(spark, dtype, anchor, sample)
        target = _as_edge_id(spark, dtype, target, sample)
        adj: dict = {}
        for (u, v), mult in zip(_pairs(t), t["mult"].to_pylist()):
            adj.setdefault(u, []).append((v, mult))
        seen = {anchor}
        frontier = {anchor: 1}
        for hop in range(1, max_hops + 1):
            nxt: dict = {}
            for u, su in frontier.items():
                for v, mult in adj.get(u, ()):
                    if v not in seen:
                        nxt[v] = nxt.get(v, 0) + su * mult
            if not nxt:
                break
            if target in nxt:
                return local_frame(
                    spark,
                    [(hop, int(nxt[target]))], "hops long, sigma long"
                )
            seen.update(nxt)
            frontier = nxt
        return local_frame(spark, [], "hops long, sigma long")

    for hop in range(1, max_hops + 1):
        nxt = (
            e.join(level.withColumnRenamed("id", "u"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum(F.col("sigma") * F.col("mult")).alias("sigma"))
            .join(visited, "id", "left_anti")
        )
        # LAZY truncation (round 13): the stats aggregate is the
        # level's only job and materializes the checkpoint blocks
        # itself (was 2 jobs/level)
        nxt = ckpt(nxt, eager=False)
        # frontier size + the target's sigma in one aggregate
        stats = nxt.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(
                F.when(F.col("id") == F.lit(target), F.col("sigma"))
            ).alias("t"),
        ).first()
        if stats["n"] == 0:
            break
        if stats["t"] is not None:
            e.unpersist()
            return local_frame(
                spark,
                [(hop, int(stats["t"]))], "hops long, sigma long"
            )
        visited = visited.union(nxt.select("id"))
        level = nxt
    e.unpersist()
    return local_frame(spark, [], "hops long, sigma long")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Power-iteration PageRank on the directed graph.

    Dangling nodes (no out-edges) redistribute uniformly via a 1-row
    broadcast aggregate folded INTO the update plan, and each iteration
    ends in ONE eager lineage checkpoint — one job per iteration,
    versus the two the round-2 version ran (a dangling-scalar collect()
    plus the update job). The checkpoint is per-iteration by
    measurement, not taste: the update references the previous ranks
    twice (contribs + dangling), so deferring truncation doubles the
    plan per step (2^k growth — 9.4s vs ~1s for 5 fixture iterations),
    and caching each level lazily instead measured 3x worse again
    (13-16s: every broadcast build materializes through the cache
    chain). |V| rides along as a column of the persisted node set, so
    the loop runs no driver action besides the size gate's count. Fixed
    iteration count — the usual production choice (convergence tests
    belong in offline validation, not the hot loop).

    Driver finisher (the module's size gate): the same power-iteration
    arithmetic in numpy. Summation order differs at ~1e-15/iteration,
    far inside the 6-digit round every consumer applies.

    Output: (id, rank); ranks sum to ~1. No edges: an empty frame.
    Edges with a null endpoint are dropped before either path.
    """
    spark = edges.sparkSession
    ckpt = _truncator(spark, checkpoint_dir)
    edges = _non_null(edges, src, dst)
    e = _weighted_edges(edges, src, dst, weight_col)
    t = collect_below(e, _DRIVER_MAX_EDGES)
    if t is not None:
        e.unpersist()
        if not t.num_rows:
            return _node_frame(spark, [], edges.select(src), "rank", F.lit(0.0))  # no nodes
        ids, _, usrc, vdst, w = _edge_arrays(t)
        n = len(ids)
        deg = np.zeros(n)
        np.add.at(deg, usrc, w)
        rank = np.full(n, 1.0 / n)
        for _ in range(max_iter):
            contrib = rank[usrc] * w / deg[usrc]
            inflow = np.bincount(vdst, weights=contrib, minlength=n)
            dangling = float(rank[deg == 0].sum())
            base = (1.0 - damping) / n + damping * dangling / n
            rank = base + damping * inflow
        ranks = list(zip(ids, rank.tolist()))
        return _node_frame(spark, ranks, edges.select(src), "rank", F.lit(0.0))
    ids = _endpoints(e)
    # every node row carries |V| as _n
    nodes = ids.crossJoin(
        F.broadcast(ids.agg(F.count(F.lit(1)).cast("double").alias("_n")))
    ).persist()
    out_deg = e.groupBy("u").agg(F.sum("w").alias("deg")).persist()
    ranks = nodes.select("id", (F.lit(1.0) / F.col("_n")).alias("rank"))
    for _ in range(max_iter):
        contribs = (
            e.join(ranks.withColumnRenamed("id", "u"), "u")
            .join(out_deg, "u")
            .select(
                F.col("v").alias("id"),
                (F.col("rank") * F.col("w") / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass as a lazy 1-row frame, broadcast into the
        # update (arithmetic keeps the scalar version's association
        # order: base = (1-d)/n + d*dangling/n, then + d*inflow)
        dangling = (
            ranks.join(out_deg.withColumnRenamed("u", "id"), "id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling"))
        )
        base = (
            F.lit(1.0 - damping) / F.col("_n")
            + F.lit(damping) * F.col("_dangling") / F.col("_n")
        )
        ranks = ckpt(  # the iteration's ONE job (see docstring)
            nodes.join(contribs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (base + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))).alias("rank"),
            )
        )
    for df in (e, nodes, out_deg):
        df.unpersist()
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Personalized PageRank: the teleport distribution concentrates on
    ``seeds`` (uniform over the distinct seeds that are nodes) instead
    of all nodes, so rank measures proximity TO the seeds — the standard
    similar-item / recommendation primitive over a similarity graph.
    Raises ``ValueError`` when no seed is a node (an empty seed list
    included): there is no teleport distribution to concentrate.

    Same one-job-per-iteration shape as ``pagerank`` (contribs join +
    agg, dangling mass folded in as a broadcast 1-row aggregate — in
    PPR dangling mass teleports back through the seed distribution),
    same per-iteration eager lineage truncation, same reliable-
    checkpoint escape hatch and the same driver finisher below the size
    gate. Output: (id, rank); ranks sum to ~1 and are 0 for nodes
    unreachable from the seed set. Edges with a null endpoint are
    dropped before either path.
    """
    no_seed = "personalized_pagerank needs a seed that is a node"
    if not seeds:
        raise ValueError(no_seed)
    spark = edges.sparkSession
    ckpt = _truncator(spark, checkpoint_dir)
    edges = _non_null(edges, src, dst)
    e = _weighted_edges(edges, src, dst, None)
    t = collect_below(e, _DRIVER_MAX_EDGES)
    if t is not None:
        # arithmetic mirrors the Column expressions term for term
        e.unpersist()
        if not t.num_rows:
            raise ValueError(no_seed)
        ids, ix, usrc, vdst, _ = _edge_arrays(t)
        dtype, sample = e.schema["u"].dataType, ids[0]
        hit = {_as_edge_id(spark, dtype, s, sample) for s in seeds} & ix.keys()
        if not hit:
            raise ValueError(no_seed)
        n = len(ids)
        deg = np.zeros(n)
        np.add.at(deg, usrc, 1.0)
        pvec = np.zeros(n)
        pvec[[ix[s] for s in hit]] = 1.0 / len(hit)
        rank = pvec.copy()
        for _ in range(max_iter):
            contrib = rank[usrc] / deg[usrc]
            inflow = np.bincount(vdst, weights=contrib, minlength=n)
            dangling = float(rank[deg == 0].sum())
            rank = (1.0 - damping) * pvec + damping * dangling * pvec + damping * inflow
        ranks = list(zip(ids, rank.tolist()))
        return _node_frame(spark, ranks, edges.select(src), "rank", F.lit(0.0))
    nodes = _endpoints(e).persist()
    is_seed = F.col("id").isin(list(seeds))
    n_hit = nodes.filter(is_seed).count()
    if n_hit == 0:
        nodes.unpersist()
        e.unpersist()
        raise ValueError(no_seed)
    out_deg = e.groupBy("u").agg(F.count("*").alias("deg")).persist()
    p = F.when(is_seed, F.lit(1.0 / n_hit)).otherwise(F.lit(0.0))
    ranks = nodes.withColumn("rank", p)
    for _ in range(max_iter):
        contribs = (
            e.join(ranks.withColumnRenamed("id", "u"), "u")
            .join(out_deg, "u")
            .select(F.col("v").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        dangling = (
            ranks.join(out_deg.withColumnRenamed("u", "id"), "id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling"))
        )
        base = (
            F.lit(1.0 - damping) * p
            + F.lit(damping) * F.col("_dangling") * p
        )
        ranks = ckpt(
            nodes.join(contribs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (base + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))).alias("rank"),
            )
        )
    for df in (e, nodes, out_deg):
        df.unpersist()
    return ranks


def sssp_distances(
    edges: DataFrame,
    anchor,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Weighted single-source shortest paths, hop-bounded Bellman-Ford:
    after iteration h, ``d(v)`` is the minimum total weight over paths
    of <= h edges (the well-defined objective on cyclic graphs without
    running to full convergence). Each iteration is one equi-join of the
    edge list against the current distance table plus a min-aggregate —
    no path enumeration, state is one row per reached node.

    FP note: min-then-extend equals enumerate-then-min bit-for-bit
    because IEEE addition is monotonic (a <= b implies a+w <= b+w), so
    a path-enumerating oracle reproduces these doubles exactly.

    Driver finisher (the module's size gate): the same synchronous
    min-then-extend rounds in IEEE doubles, so distances are
    bit-identical to the distributed loop (min over the same candidate
    set is order-independent). A converged round changes nothing, so
    its early exit only skips the no-op rounds the loop still pays.

    Output: (id, d) for every node reachable within ``max_hops`` edges,
    anchor at 0.0. Edges with a null endpoint are dropped before
    either path.
    """
    e = _non_null(edges, src, dst).select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
    ).persist()
    spark = edges.sparkSession
    ckpt = _truncator(spark, checkpoint_dir)
    dist = local_frame(spark, [(str(anchor), 0.0)], "id string, d double")
    dist = dist.withColumn("id", F.col("id").cast(e.schema["u"].dataType))

    t = collect_below(e, _DRIVER_MAX_EDGES)
    if t is not None:
        e.unpersist()
        if not t.num_rows:
            return dist  # anchor alone, typed by the distributed cast
        source = _as_edge_id(spark, e.schema["u"].dataType, anchor, t["u"][0].as_py())
        rows = list(zip(t["u"].to_pylist(), t["v"].to_pylist(), t["w"].to_pylist()))
        dd = {source: 0.0}
        for _ in range(max_hops):
            new = dict(dd)
            for u, v, w in rows:
                if u in dd:
                    # mirror the min-aggregate's null handling: a null
                    # weight (or a null upstream distance) yields a null
                    # candidate, which never beats a real distance but
                    # does mark the node reached — exactly what
                    # unionByName + F.min produce distributedly.
                    cand = None if dd[u] is None or w is None else dd[u] + w
                    cur = new.get(v)
                    if v not in new or cand is not None and (cur is None or cand < cur):
                        new[v] = cand
            if new == dd:
                break
            dd = new
        return local_frame(spark, sorted(dd.items()), schema=dist.schema)

    for _ in range(max_hops):
        relaxed = e.join(
            dist.withColumnRenamed("id", "u").withColumnRenamed("d", "du"), "u"
        ).select(F.col("v").alias("id"), (F.col("du") + F.col("w")).alias("d"))
        dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("d").alias("d"))
        )
        dist = ckpt(dist)
    e.unpersist()
    return dist


def kcore_decomposition(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Core number (coreness) for every node by H-INDEX ITERATION
    (Lu, Zhou, Zhang, Stanley, "The H-index of a network node and its
    relation to degree and coreness", Nat. Commun. 2016): initialize
    h(v) = degree(v), then repeatedly set h(v) to the h-index of its
    neighbors' current h values. The sequence is monotone
    non-increasing and its unique fixed point is exactly the k-core
    number — no sequential peeling order, so every node updates in
    parallel each round (the peeling algorithm's "remove min-degree
    nodes one k at a time" outer loop disappears).

    One round = one shuffle join (attach neighbor h) + one aggregate;
    the h-index itself is an array fold over each node's neighbor-h
    multiset: sort desc, count positions where h[i] >= i+1 — JVM-side
    lambda, no UDF. Convergence is checked as an unchanged SUM(h)
    riding the round's aggregate (h is monotone non-increasing per
    node, so a stable sum IS elementwise stability, no hash needed).

    Output: (id, core BIGINT), one row per node incident to >= 1
    non-loop edge. Deterministic: the fixed point is unique.

    Scale: per-round cost is one hash join on node id + a groupBy —
    both partition on the same key, so AQE reuses the exchange; skewed
    hub nodes cost O(degree log degree) in the local sort, bounded by
    the same collect_list ceiling as any neighborhood aggregate (for
    degree >> 10^6 swap the sort-fold for a bucketed counting h-index;
    same contract).
    """
    ckpt = _truncator(edges.sparkSession, checkpoint_dir)
    bidir = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .union(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v")).filter(
                F.col("u") != F.col("v")
            )
        )
        .distinct()
    )
    bidir = ckpt(bidir)  # read every round: truncate the upstream build once
    h = bidir.groupBy("u").agg(F.count("*").cast("long").alias("h"))
    def one_round(hcur):
        nbr = bidir.join(
            hcur.select(F.col("u").alias("v"), F.col("h").alias("nh")), "v"
        ).select("u", "nh")
        return nbr.groupBy("u").agg(
            F.size(
                F.filter(
                    F.sort_array(F.collect_list("nh"), asc=False),
                    lambda x, idx: x >= idx + 1,
                )
            )
            .cast("long")
            .alias("h")
        )

    # two rounds per materializing job: unlike CC's star() (which reads
    # its input twice — lazy chaining there explodes recompute, see
    # STATUS), each h-round consumes h exactly ONCE, so chaining two
    # rounds only deepens the plan linearly and halves the action
    # count. Convergence still detected (fixed point is stable under
    # further rounds); overshoot is at most one cheap extra round.
    prev_sum = None
    for _ in range(0, max_iter, 2):
        h = ckpt(one_round(one_round(h)), eager=False)
        s = h.agg(F.sum("h")).first()[0]
        if s == prev_sum:
            break
        prev_sum = s
    return h.select(F.col("u").alias("id"), F.col("h").alias("core"))


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_outer: int = 20,
    max_prop: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph by the
    trim + forward-coloring + backward-membership algorithm (Orzan's
    coloring, the shape Slota et al. 2014 parallelize; completes the
    graph family where ``connected_components`` answers the undirected
    question only), with the standard FW-BW small-subproblem finisher:
    an edge set within the module's size gate finishes with sequential
    iterative Tarjan — exactly what parallel SCC systems do (Slota et
    al.; Hong et al. 2013), because a fixed-point loop over a tiny
    graph pays per-round scheduling + plan-analysis latency (measured
    ~0.5 s/round here) for sub-millisecond compute. Both paths produce
    identical labels by construction (min id of the SCC). The
    distributed loop runs at the session's shuffle width and changes
    no session configuration:

    Per outer round, over the still-active subgraph:

    1. TRIM (to fixpoint): a node with no incoming or no outgoing
       active edge is its own singleton SCC — resolved without any
       propagation (the vast majority of nodes in real graphs).
    2. COLOR forward (to fixpoint): color(v) = max(v, colors of
       in-neighbors) — after convergence color(v) is the largest id
       that can reach v, so each color class is closed under forward
       reachability from its ROOT r (the node with color(r) == r).
    3. BACKWARD membership (to fixpoint): within one color, mark the
       nodes that can reach their root through same-color nodes;
       root reaches them (step 2) and they reach root => marked set
       == SCC(root). All colors resolve simultaneously. Marked nodes
       retire; the outer loop continues on what remains.

    Every outer round retires at least every color root, so the loop
    terminates; ``max_outer``/``max_prop`` bound it regardless. Each
    propagation round is one equi-join + partial-agg shuffle keyed on
    node id (the partitioning Catalyst reuses), with ``_truncator``
    lineage control — the same per-iteration cost model as pagerank.
    Component label = MIN id of the SCC (deterministic).

    Output: (id, component), one row per node incident to an edge.
    """
    spark = edges.sparkSession
    ckpt = _truncator(spark, checkpoint_dir)
    e_all = ckpt(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    t = collect_below(e_all, _DRIVER_MAX_EDGES)
    if t is not None:
        comp = _tarjan_scc(_pairs(t))
        return _node_frame(spark, sorted(comp.items()), e_all, "component", F.col("u"))

    active_nodes = ckpt(_endpoints(e_all))
    done_parts: list[DataFrame] = []
    e_act = e_all
    for _outer in range(max_outer):
        # -- 1. trim to fixpoint ----------------------------------------
        # one job per round: the count below materializes the LAZY
        # checkpoints of the previous round (localCheckpoint caches at
        # first computation), so there is no separate eager-ckpt job
        for _t in range(max_prop):
            has_out = e_act.select(F.col("u").alias("id")).distinct()
            has_in = e_act.select(F.col("v").alias("id")).distinct()
            keep = active_nodes.join(has_out, "id", "left_semi").join(
                has_in, "id", "left_semi"
            )
            trimmed = active_nodes.join(keep, "id", "left_anti")
            n_trim = trimmed.count()
            if n_trim == 0:
                break
            done_parts.append(trimmed.select("id", F.col("id").alias("component")))
            active_nodes = ckpt(keep, eager=False)
            e_act = ckpt(
                e_act.join(active_nodes.withColumnRenamed("id", "u"), "u", "left_semi")
                .join(active_nodes.withColumnRenamed("id", "v"), "v", "left_semi"),
                eager=False,
            )
        if active_nodes.isEmpty():
            break

        # -- 2. forward max-color propagation to fixpoint ---------------
        # convergence rides the round's ONE aggregate as a 64-bit hash
        # signature of the whole assignment (the CC trick): a stable
        # signature == fixed point (collision odds ~2^-64 per round,
        # and max_prop bounds the loop regardless) — no per-round
        # change-join, no separate materialization job
        def color_round(c):
            inbound = (
                e_act.join(
                    c.select(F.col("id").alias("u"), F.col("c").alias("cu")), "u"
                )
                .groupBy(F.col("v").alias("id"))
                .agg(F.max("cu").alias("cin"))
            )
            return c.join(inbound, "id", "left").select(
                "id", F.greatest("c", F.coalesce("cin", "c")).alias("c")
            )

        color = active_nodes.withColumn("c", F.col("id"))
        prev_sig = None
        # TWO rounds per job (the k-core cadence): the mid-round lazy
        # checkpoint caches at first materialization inside the same
        # job, so round 2's two reads of round 1 don't recompute it;
        # driver round-trips halve, overshoot is one no-op round
        for _p in range(0, max_prop, 2):
            color = ckpt(
                color_round(ckpt(color_round(color), eager=False)), eager=False
            )
            sig = color.agg(
                F.sum(F.xxhash64("id", "c").cast("decimal(38,0)"))
            ).first()[0]
            if sig == prev_sig:
                break
            prev_sig = sig

        # -- 3. backward membership within each color -------------------
        # marked only grows, so a stable COUNT is the fixed point —
        # again one job per round over the lazy checkpoint
        def back_round(m):
            # u joins its color's marked set if some out-edge lands on a
            # marked same-color node
            newly = (
                e_act.join(
                    m.select(F.col("id").alias("v"), F.col("c").alias("cv")), "v"
                )
                .join(color.select(F.col("id").alias("u"), F.col("c").alias("cu")), "u")
                .filter(F.col("cu") == F.col("cv"))
                .select(F.col("u").alias("id"), F.col("cu").alias("c"))
                .distinct()
                .join(m.select("id"), "id", "left_anti")
            )
            return m.unionByName(newly)

        marked = ckpt(color.filter(F.col("c") == F.col("id")), eager=False)
        prev_n = marked.count()
        # marked only grows, so a stable COUNT is the fixed point —
        # two rounds per job, one count action each
        for _b in range(0, max_prop, 2):
            marked = ckpt(
                back_round(ckpt(back_round(marked), eager=False)), eager=False
            )
            n = marked.count()
            if n == prev_n:
                break
            prev_n = n

        # SCC label = min id of the marked set per color (root is the
        # MAX by construction; relabel for the deterministic-min contract)
        scc = marked.groupBy("c").agg(F.min("id").alias("component"))
        done_parts.append(
            marked.join(scc, "c").select("id", "component")
        )
        active_nodes = ckpt(active_nodes.join(marked.select("id"), "id", "left_anti"))
        if active_nodes.isEmpty():
            break
        e_act = ckpt(
            e_act.join(active_nodes.withColumnRenamed("id", "u"), "u", "left_semi")
            .join(active_nodes.withColumnRenamed("id", "v"), "v", "left_semi")
        )

    if not done_parts:  # no edge between two distinct nodes
        return _node_frame(spark, [], e_all, "component", F.col("u"))
    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.unionByName(part)
    # the union accumulates one partition set per retired part —
    # collapse to the session's shuffle width before handing downstream
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return ckpt(out.coalesce(width))


def _tarjan_scc(edge_list):
    """Iterative (explicit-stack) Tarjan over a collected edge list —
    the FW-BW sequential finisher for sub-cutover subgraphs. Returns
    {node: min id of its SCC}; nodes only appear if incident to an
    edge (matching the distributed path's contract)."""
    adj: dict = {}
    nodes = set()
    for u, v in edge_list:
        adj.setdefault(u, []).append(v)
        nodes.add(u)
        nodes.add(v)
    index: dict = {}
    low: dict = {}
    onstack = set()
    S: list = []
    comp: dict = {}
    for root in sorted(nodes):
        if root in index:
            continue
        index[root] = low[root] = len(index)
        S.append(root)
        onstack.add(root)
        work = [(root, iter(adj.get(root, ())))]
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = len(index)
                    S.append(w)
                    onstack.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    advanced = True
                    break
                if w in onstack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
            if low[v] == index[v]:
                scc = []
                while True:
                    w = S.pop()
                    onstack.discard(w)
                    scc.append(w)
                    if w == v:
                        break
                m = min(scc)
                for w in scc:
                    comp[w] = m
    return comp


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007), determinized: every node starts as its own label;
    each round every node adopts the most frequent label among its
    (undirected) neighbors, ties broken by SMALLEST label, isolated
    nodes keep their own. Classic LPA updates asynchronously in random
    order — irreproducible on a distributed engine — so this is the
    synchronous variant with a FIXED round count: deterministic across
    runs/partitionings/engines (the oracle unrolls the identical
    rounds as SQL CTEs), at the cost of the known oscillation mode on
    bipartite-ish structures, which a fixed round budget tolerates by
    fiat. Each round is one join + one count aggregate + one
    row_number window, all keyed on node id.

    Driver finisher (the module's size gate): the update is pure
    integer/ordering logic (most-frequent neighbor label, smallest-label
    tie, fixed rounds), so the sequential replay produces IDENTICAL
    labels, not merely close ones.

    Output: (id, community), community = the converged label.
    Edges with a null endpoint are dropped before either path.
    """
    from pyspark.sql import Window

    ckpt = _truncator(edges.sparkSession, checkpoint_dir)
    sym = ckpt(symmetrize(_non_null(edges, src, dst), src, dst))
    t = collect_below(sym, _DRIVER_MAX_EDGES)
    if t is not None:
        adj = _adjacency(t)
        labels_py = {n: n for n in adj}
        for _ in range(n_rounds):
            nxt = {}
            for n, neigh in adj.items():
                counts: dict = {}
                for v in neigh:
                    lbl = labels_py[v]
                    counts[lbl] = counts.get(lbl, 0) + 1
                nxt[n] = min(
                    counts, key=lambda c: (-counts[c], c)
                )
            labels_py = nxt
        return _node_frame(
            edges.sparkSession, sorted(labels_py.items()), sym, "community", F.col("u")
        )
    nodes = ckpt(sym.select(F.col("u").alias("id")).distinct())
    labels = nodes.withColumn("lbl", F.col("id"))
    for _r in range(n_rounds):
        counts = (
            sym.join(
                labels.select(F.col("id").alias("v"), F.col("lbl").alias("nlbl")),
                "v",
            )
            .groupBy("u", "nlbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("u").orderBy(F.desc("cnt"), F.asc("nlbl"))
        winners = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("id"), F.col("nlbl").alias("new_lbl"))
        )
        labels = ckpt(
            labels.join(winners, "id", "left").select(
                "id", F.coalesce("new_lbl", "lbl").alias("lbl")
            ),
            eager=False,
        )
    return labels.select("id", F.col("lbl").alias("community"))


def link_prediction_jaccard(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over the UNDIRECTED
    graph (Liben-Nowell & Kleinberg 2003): for every NON-ADJACENT node
    pair sharing >= ``min_common`` neighbors, emit
    ``(a, b, n_common, n_union, jaccard)`` with ``a < b``,
    ``n_union = deg(a) + deg(b) - n_common`` and
    ``jaccard = n_common / n_union``.

    Everything but the final score is exact integer arithmetic; the
    score itself is ONE IEEE division of two integers — correctly
    rounded, so bit-identical across engines (oracle-checkable without
    decimal gymnastics).

    Plan shape: symmetrize + distinct (one shuffle), wedge self-join on
    the shared-neighbor key (one shuffle on node id), count per pair,
    anti-join against the edge set to drop already-adjacent pairs, two
    degree joins. Scale note: a degree-d hub emits d^2 wedge pairs —
    the canonical skew; AQE's skew-join split handles moderate hubs,
    and for power-law graphs cap neighborhoods upstream (drop nodes
    with deg > cap from the WEDGE side only, the standard
    approximation) before calling this."""
    u, v = F.col(src_col), F.col(dst_col)
    und = (
        edges.select(u.alias("u"), v.alias("v"))
        .union(edges.select(v.alias("u"), u.alias("v")))
        .distinct()
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    t1 = und.select(F.col("u").alias("n"), F.col("v").alias("a"))
    t2 = und.select(F.col("u").alias("n"), F.col("v").alias("b"))
    pairs = (
        t1.join(t2, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    adj = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    nonadj = pairs.join(adj, ["a", "b"], "left_anti")
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    return (
        nonadj.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("n_common").cast("long").alias("n_common"),
            (F.col("da") + F.col("db") - F.col("n_common"))
            .cast("long")
            .alias("n_union"),
            (
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def _union_find_cc(edge_list):
    """Sequential union-find (path-halving + union-by-size) for the
    small-subproblem finisher of ``connected_components``: returns
    {node: min id of its component} for every node in ``edge_list`` —
    the same labels the star-contraction fixed point produces."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            parent[root] = parent[parent[root]]
            root = parent[root]
        return root

    for a, b in edge_list:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
                size[n] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    members: dict = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    out = {}
    for nodes in members.values():
        label = min(nodes)
        for n in nodes:
            out[n] = label
    return out


def scc_condensation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Condensation (quotient DAG) of a directed graph: one node per
    strongly connected component, an edge (A, B) whenever any original
    edge crosses from a node of A to a node of B — acyclic by the
    definition of SCC, which makes it the structure that gives a
    cyclic graph a topological order (dependency resolution, deadlock
    analysis, stratified evaluation).

    Plan: one SCC run (``strongly_connected_components``; its driver
    finisher applies below the size gate), then two label joins on the
    edge endpoints and a count aggregate — the joins key on node id,
    the same partitioning the SCC loop used. Component labels are
    min-id, so condensation node names are deterministic.

    Output: (src_comp, dst_comp, n_edges) — distinct crossing
    component pairs with the number of original edges collapsed onto
    each."""
    comp = strongly_connected_components(
        edges, src=src, dst=dst, checkpoint_dir=checkpoint_dir
    )
    cu = comp.select(F.col("id").alias(src), F.col("component").alias("src_comp"))
    cv = comp.select(F.col("id").alias(dst), F.col("component").alias("dst_comp"))
    return (
        edges.select(src, dst)
        .join(cu, src)
        .join(cv, dst)
        .filter(F.col("src_comp") != F.col("dst_comp"))
        .groupBy("src_comp", "dst_comp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )


def multi_source_bfs(
    edges: DataFrame,
    seeds: list | DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
    directed: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Hop distances from EVERY seed in ONE frontier loop: frontier and
    visited set carry (seed, id) pairs, so each iteration expands all
    seeds' frontiers together — m independent BFS runs collapse into
    diameter-many join rounds regardless of seed count (the batch-BFS
    shape behind landmark distance / centrality estimation). Per round:
    one equi-join on the frontier's node ids + one anti-join against
    the visited set, both keyed on id — the frontier is graph-width
    bounded times |seeds|, never the corpus.

    Output: (seed, id, hops) — minimum hop count per (seed, reachable
    node), including (seed, seed, 0).

    ``seeds`` may be a Python list (driver-sized seed sets: landmark
    batches, anchored-chain frontiers) or a single-column DataFrame
    (round 9) — the DataFrame form never materializes the seed set on
    the driver, so an UNBOUNDED seed frame (e.g. an OPTIONAL var-length
    expansion from an unanchored scope) stays fully distributed.

    Driver finisher (the module's size gate), additionally bounded by
    driver WORK = |seeds| x |edges|: the seed frame can be
    corpus-derived and huge even over a tiny graph, so a budgeted
    limit-collect probes it and an overflow falls through to the
    distributed loop. Edges with a null endpoint are dropped before
    either path; a null seed reaches only itself, at hop 0."""
    spark = edges.sparkSession
    ckpt = _truncator(spark, checkpoint_dir)
    edges = _non_null(edges, src, dst)
    if directed:
        e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    else:
        e = symmetrize(edges, src, dst)
    e = ckpt(e)
    if isinstance(seeds, DataFrame):
        if len(seeds.columns) != 1:
            raise ValueError("seeds DataFrame must have exactly one column")
        base = seeds.toDF("seed").distinct()
    else:
        seed_rows = [(s,) for s in seeds]
        base = local_frame(
            spark,
            seed_rows, schema=edges.select(F.col(src).alias("seed")).schema
        )
    frontier = base.select("seed", F.col("seed").alias("id"), F.lit(0).alias("hops"))

    t = collect_below(e, _DRIVER_MAX_EDGES)  # cheap: e is checkpointed just above
    if t is not None:
        seed_t = collect_below(base, max(64, 1_000_000 // max(t.num_rows, 1)))
        if seed_t is not None:
            adj = _adjacency(t)
            # the list form's base is NOT distinct-ed, and the
            # distributed loop keeps duplicate seed rows only at hop 0
            # (visited starts as the raw frontier; every later level is
            # distinct-ed). Mirror exactly: expand each seed once, emit
            # one extra (s, s, 0) row per duplicate input row.
            counts = Counter(seed_t["seed"].to_pylist())
            out = [(s, s, 0) for s, c in counts.items() for _ in range(c - 1)]
            for s in counts:
                hops = _bfs_hops(adj, s, max_hops)
                out.extend((s, node, h) for node, h in hops.items())
            return local_frame(spark, sorted(out, key=_nulls_first), schema=frontier.schema)

    visited = ckpt(frontier)
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.id == e.u)
            .select("seed", F.col("v").alias("id"), F.lit(hop).alias("hops"))
            .distinct()
            .join(visited.select("seed", "id"), ["seed", "id"], "left_anti")
        )
        # LAZY truncation + count (round 13): one job per level — the
        # count materializes this level's checkpoint AND the previous
        # level's lazy visited-union checkpoint (was 3 jobs/level:
        # eager nxt ckpt, isEmpty probe, eager visited ckpt)
        nxt = ckpt(nxt, eager=False)
        if nxt.count() == 0:
            break
        visited = ckpt(visited.union(nxt), eager=False)
        frontier = nxt
    return visited


def closeness_from_seeds(
    edges: DataFrame,
    seeds: list,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Closeness centrality of the given seed nodes (the landmark
    subset — exact all-node closeness is all-pairs BFS, which nobody
    runs at 100 TB; seed/landmark closeness is the production form):
    ``closeness = n_reached / total_hops`` over each seed's BFS tree,
    one int/int IEEE division (engine-identical). A seed that reaches
    no other node within ``max_hops`` has no row.

    Output: (seed, n_reached, total_hops, closeness)."""
    d = multi_source_bfs(
        edges, seeds, src=src, dst=dst, max_hops=max_hops, directed=directed
    )
    return (
        d.filter(F.col("hops") > 0)
        .groupBy("seed")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum("hops").cast("long").alias("total_hops"),
        )
        .select(
            "seed",
            "n_reached",
            "total_hops",
            F.when(
                F.col("total_hops") > 0,
                F.col("n_reached").cast("double")
                / F.col("total_hops").cast("double"),
            ).alias("closeness"),
        )
    )


def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k-truss of the undirected graph (Cohen 2008): the maximal
    subgraph where every edge participates in >= k-2 triangles — the
    edge-centric cohesion notion that k-core (node-centric) misses;
    communities and spam/link farms separate sharply by truss number.

    Fixed-point peeling, set-at-a-time (J. Wang & Cheng, VLDB'12 shape):
    each round recomputes edge supports with the SAME canonical
    triangle join the triangle-count query uses (two equi-joins on
    endpoints, no enumeration of non-triangles) and drops every edge
    below k-2 SIMULTANEOUSLY — deterministic, no sequential peeling
    order. Rounds are bounded by the peeling depth (small in
    practice); each is two joins + one aggregate keyed on endpoints.
    The k-truss is UNIQUE, so any engine agreeing on the definition
    agrees on the result (pinned against a pure-Python reference in
    tests).

    Scale note: the wedge join's fan-out is sum(deg^2) — hub-skewed on
    power-law graphs. The standard mitigation (degree-ordered
    orientation: enumerate each wedge only from its lowest-degree
    endpoint) drops that to O(m^1.5); AQE's skew split covers moderate
    hubs here, and orientation is the upgrade path if supports ever
    dominate a profile.

    Output: the surviving canonical edge set (u < v), columns (u, v).
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    ckpt = _truncator(edges.sparkSession, checkpoint_dir)
    und = ckpt(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    n_edges = und.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        bidir = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        n1 = bidir.select(F.col("u").alias("x"), F.col("v").alias("w1"))
        n2 = bidir.select(F.col("u").alias("y"), F.col("v").alias("w2"))
        sup = (
            und.join(n1, und.u == n1.x)
            .join(n2, (und.v == n2.y) & (F.col("w1") == F.col("w2")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        kept = ckpt(sup.filter(F.col("support") >= k - 2).select("u", "v"))
        n_kept = kept.count()
        if n_kept == n_edges:
            break
        und, n_edges = kept, n_kept
    return und if n_edges else und.limit(0)


def betweenness_from_seeds(
    edges: DataFrame,
    seeds: list,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
    directed: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Betweenness centrality contributions from the given seed
    sources — Brandes' algorithm (2001) with the forward/backward
    passes expressed as per-level joins, all seeds advancing in one
    loop (the multi_source_bfs batching). Exact betweenness is
    all-sources Brandes, which nobody runs at 100 TB; seed-sampled
    betweenness (Brandes-Pich 2007) is the production estimator, and
    passing every node as a seed on a bounded subgraph recovers the
    exact value (how the tests pin against the reference
    implementation).

    Forward: level frames (seed, id, sigma) where sigma = number of
    shortest s->v paths, accumulated by a grouped SUM over the
    frontier's out-edges (one join + one anti-join + one aggregate
    per level — frontier-sized, never the corpus). Backward: levels
    replay in reverse, each computing
    delta(u) = sum_v sigma(u)/sigma(v) * (1 + delta(v)) over the
    shortest-path-DAG edges into the deeper level (one join + one
    aggregate per level; the level frames were already checkpointed
    by the forward pass, so nothing recomputes).

    Returns (id, betweenness): the RAW sum of dependency scores over
    ORDERED (seed, target) pairs, seeds excluded from their own
    tally — the undirected unordered-pair convention is this divided
    by 2 when seeds = all nodes (callers' choice; documented rather
    than hidden).

    Floating accumulation (round 11): each dependency TERM
    ``sigma_u/sigma_v * (1 + delta_v)`` is quantized to the 2^-20
    dyadic grid before the per-level SUM — the dsir/lm device — so
    every delta and the final betweenness are EXACT dyadic sums:
    order-independent across partitions, runs, and engines (term
    inputs are integers and already-exact grid deltas, so the
    divide/multiply/floor chain is bit-identical everywhere). That
    turns the op from rows-only into value-hash-oracle territory; the
    per-term bias is <= 2^-21, orders below the seed-sampling error
    the estimator carries by design. Also pinned against a pure-Python
    Brandes (same quantization) in tests.
    """
    spark = edges.sparkSession
    ckpt = _truncator(spark, checkpoint_dir)
    if directed:
        e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    else:
        e = symmetrize(edges, src, dst)
    e = ckpt(e)
    base = local_frame(
        spark,
        [(s,) for s in seeds], schema=edges.select(F.col(src).alias("seed")).schema
    )
    level = ckpt(
        base.select("seed", F.col("seed").alias("id"), F.lit(1).cast("long").alias("sigma"))
    )
    levels = [level]
    visited = level.select("seed", "id")
    for _hop in range(1, max_hops + 1):
        seen = visited.select(F.col("seed").alias("ws"), F.col("id").alias("wv"))
        nxt = (
            level.join(e, level.id == e.u)
            .join(
                seen,
                (F.col("seed") == F.col("ws")) & (F.col("v") == F.col("wv")),
                "left_anti",
            )
            .groupBy("seed", F.col("v").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt = ckpt(nxt)
        if nxt.isEmpty():
            break
        visited = ckpt(visited.union(nxt.select("seed", "id")))
        level = nxt
        levels.append(level)

    # backward accumulation; deepest level has delta = 0
    deltas = None  # (seed, id, delta) for the level BELOW the current one
    contribs = []
    for d in range(len(levels) - 2, -1, -1):
        below = levels[d + 1].select(
            F.col("seed").alias("bs"), F.col("id").alias("bv"),
            F.col("sigma").alias("bsigma"),
        )
        if deltas is not None:
            below = below.join(
                deltas.select(
                    F.col("seed").alias("bs"), F.col("id").alias("bv"), "delta"
                ),
                ["bs", "bv"],
                "left",
            ).select("bs", "bv", "bsigma", F.coalesce("delta", F.lit(0.0)).alias("bdelta"))
        else:
            below = below.select("bs", "bv", "bsigma", F.lit(0.0).alias("bdelta"))
        cur = levels[d]
        deltas = ckpt(
            cur.join(e, cur.id == e.u)
            .join(below, (cur.seed == F.col("bs")) & (F.col("v") == F.col("bv")))
            .groupBy("seed", "id")
            .agg(
                F.sum(
                    F.floor(
                        (F.col("sigma") / F.col("bsigma"))
                        * (F.lit(1.0) + F.col("bdelta"))
                        * F.lit(1048576.0)
                        + F.lit(0.5)
                    )
                    / F.lit(1048576.0)
                ).alias("delta")
            )
        )
        if d > 0:  # level 0 is the seed itself: excluded from its own tally
            contribs.append(deltas)
    if not contribs:
        return local_frame(
            edges.sparkSession,
            [], "id " + dict(edges.dtypes)[src] + ", betweenness double"
        )
    out = contribs[0]
    for c in contribs[1:]:
        out = out.union(c)
    return out.groupBy("id").agg(F.sum("delta").alias("betweenness"))


def eigenvector_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    max_iter: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Power-iteration eigenvector centrality (round 7): x ← Aᵀx with
    MAX-normalization each step — a node is central in proportion to
    the centrality of the nodes pointing AT it (PageRank without the
    damping/teleport machinery; the classic Bonacich measure).

    Max-normalization is deliberate: the max is accumulation-order-FREE
    (unlike an L2 norm's sum of squares), so the only order-sensitive
    arithmetic is the per-node in-sum — the same grouped double sum
    PageRank's oracle already value-hashes under the 6-digit round.
    Nodes with no in-edges go to 0 after one step, as the definition
    says.

    Same execution skeleton as ``pagerank``: one join + grouped sum +
    broadcast 1-row max per iteration, eager lineage truncation per
    step, and the numpy driver finisher below the module's size gate
    (identical update math).

    Output: (id, score) with max score = 1.0 (on any graph with at
    least one edge); no edges: an empty frame. Edges with a null
    endpoint are dropped before either path.
    """
    ckpt = _truncator(edges.sparkSession, checkpoint_dir)
    edges = _non_null(edges, src, dst)
    e = _weighted_edges(edges, src, dst, weight_col)
    t = collect_below(e, _DRIVER_MAX_EDGES)
    if t is not None:
        e.unpersist()
        scores = []
        if t.num_rows:  # np.bincount/max would raise on no edges
            ids, _, usrc, vdst, w = _edge_arrays(t)
            x = np.ones(len(ids))
            for _ in range(max_iter):
                nxt = np.bincount(vdst, weights=x[usrc] * w, minlength=len(ids))
                m = float(nxt.max())
                x = nxt / m if m > 0 else nxt
            scores = list(zip(ids, x.tolist()))
        return _node_frame(edges.sparkSession, scores, edges.select(src), "score", F.lit(0.0))

    nodes = _endpoints(e).persist()
    x = nodes.withColumn("score", F.lit(1.0))
    for _ in range(max_iter):
        inflow = (
            e.join(x.withColumnRenamed("id", "u"), "u")
            .select(F.col("v").alias("id"), (F.col("score") * F.col("w")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("nxt"))
        )
        peak = inflow.agg(F.max("nxt").alias("_m"))
        x = ckpt(
            nodes.join(inflow, "id", "left")
            .crossJoin(F.broadcast(peak))
            .select(
                "id",
                F.when(
                    F.col("_m") > 0,
                    F.coalesce(F.col("nxt"), F.lit(0.0)) / F.col("_m"),
                ).otherwise(F.coalesce(F.col("nxt"), F.lit(0.0))).alias("score"),
            )
        )
    e.unpersist()
    nodes.unpersist()
    return x
