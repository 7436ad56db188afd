"""The graph_algos size gate for the frontier-loop operators
(bfs_distances, multi_source_bfs, sssp_distances, shortest_path_sigma):
inputs up to ``_DRIVER_MAX_EDGES`` edges finish on the driver, larger
ones run the distributed loop. Each test pins the driver finisher (the
default path at fixture scale) EXACTLY equal to the distributed loop
(forced by the ``distributed`` fixture, which sets the gate to 0), so
the gate can never change a query's answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from providenciasbigdata_spark.compat.graph import build_similarity_edges
from providenciasbigdata_spark.io import load_table
from providenciasbigdata_spark.operators.graph_algos import (
    bfs_distances,
    multi_source_bfs,
    shortest_path_sigma,
    sssp_distances,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def sim_edges(spark):
    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 150)
    return build_similarity_edges(emb).filter(F.col("similitud") >= 28).persist()


def test_bfs_cutover_matches_distributed(spark, sim_edges, distributed):
    for directed in (True, False):
        fast = {
            (r.id, r.hops)
            for r in bfs_distances(sim_edges, "P-7", directed=directed).collect()
        }
        with distributed():
            slow = {
                (r.id, r.hops)
                for r in bfs_distances(sim_edges, "P-7", directed=directed).collect()
            }
        assert fast == slow and len(fast) > 1


def test_bfs_cutover_target_early_exit(spark, sim_edges, distributed):
    # with a target the result is truncated at the target's level —
    # the python path must truncate IDENTICALLY
    def run():
        return {
            (r.id, r.hops)
            for r in bfs_distances(
                sim_edges, "P-104", directed=False, max_hops=30, target="P-1"
            ).collect()
        }

    fast = run()
    with distributed():
        slow = run()
    assert fast == slow


def test_bfs_cutover_anchor_off_graph(spark, sim_edges, distributed):
    # anchor with no edges: both paths return just (anchor, 0)
    fast = bfs_distances(sim_edges, "P-NOPE").collect()
    with distributed():
        slow = bfs_distances(sim_edges, "P-NOPE").collect()
    assert [(r.id, r.hops) for r in fast] == [("P-NOPE", 0)]
    assert [(r.id, r.hops) for r in slow] == [("P-NOPE", 0)]


def test_multi_source_bfs_cutover_matches_distributed(spark, sim_edges, distributed):
    seeds = ["P-1", "P-7", "P-104", "P-NOPE"]
    for directed in (True, False):
        def run():
            return {
                (r.seed, r.id, r.hops)
                for r in multi_source_bfs(
                    sim_edges, seeds, directed=directed, max_hops=6
                ).collect()
            }

        fast = run()
        with distributed():
            slow = run()
        assert fast == slow
        # off-graph seed still reports itself at hop 0
        assert ("P-NOPE", "P-NOPE", 0) in fast


def test_multi_source_bfs_cutover_seeds_dataframe(spark, sim_edges, distributed):
    seeds_df = sim_edges.select("src").filter(
        F.col("src").isin("P-1", "P-7")
    ).distinct()

    def run():
        return {
            (r.seed, r.id, r.hops)
            for r in multi_source_bfs(sim_edges, seeds_df, max_hops=4).collect()
        }

    fast = run()
    with distributed():
        slow = run()
    assert fast == slow and len(fast) > 2


def test_sssp_cutover_matches_distributed_bitexact(spark, sim_edges, distributed):
    # weighted: w = 100 - similitud, the cheapestPath lowering's edge
    # cost. The python finisher must agree BIT-FOR-BIT (same
    # min-then-extend rounds in IEEE doubles).
    w = sim_edges.withColumn("w", F.lit(100.0) - F.col("similitud"))
    fast = {r.id: r.d for r in sssp_distances(w, "P-104", max_hops=6).collect()}
    with distributed():
        slow = {r.id: r.d for r in sssp_distances(w, "P-104", max_hops=6).collect()}
    assert fast == slow  # exact float equality, not approx


def test_sssp_cutover_early_exit_is_noop(spark, sim_edges):
    # python path exits when a round changes nothing; a larger hop cap
    # must therefore give the same answer once converged
    w = sim_edges.withColumn("w", F.lit(100.0) - F.col("similitud"))
    a = {r.id: r.d for r in sssp_distances(w, "P-104", max_hops=25).collect()}
    b = {r.id: r.d for r in sssp_distances(w, "P-104", max_hops=40).collect()}
    assert a == b


def test_sigma_cutover_matches_distributed(spark, sim_edges, distributed):
    for directed in (True, False):
        def run():
            return [
                (r.hops, r.sigma)
                for r in shortest_path_sigma(
                    sim_edges, "P-104", "P-1", directed=directed, max_hops=10
                ).collect()
            ]

        fast = run()
        with distributed():
            slow = run()
        assert fast == slow


def test_sigma_cutover_unreachable_and_self(spark, sim_edges, distributed):
    # unreachable target: both paths empty
    assert (
        shortest_path_sigma(sim_edges, "P-104", "P-NOPE", max_hops=4).count() == 0
    )
    with distributed():
        assert (
            shortest_path_sigma(sim_edges, "P-104", "P-NOPE", max_hops=4).count()
            == 0
        )
    # anchor == target short-circuits before any dispatch
    row = shortest_path_sigma(sim_edges, "P-7", "P-7").first()
    assert (row.hops, row.sigma) == (0, 1)


def test_sigma_cutover_multigraph_mult(spark, distributed):
    # parallel relationships multiply sigma; undirected multiplicity is
    # the MAX of the two directions (the documented contract) — pin the
    # python finisher to both behaviors
    rows = [("A", "B"), ("A", "B"), ("B", "C"), ("C", "B")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    fast = shortest_path_sigma(edges, "A", "C", directed=True, max_hops=4).first()
    with distributed():
        slow = shortest_path_sigma(edges, "A", "C", directed=True, max_hops=4).first()
    assert (fast.hops, fast.sigma) == (slow.hops, slow.sigma) == (2, 2)
    und_f = shortest_path_sigma(edges, "A", "C", directed=False, max_hops=4).first()
    with distributed():
        und_s = shortest_path_sigma(
            edges, "A", "C", directed=False, max_hops=4
        ).first()
    assert (und_f.hops, und_f.sigma) == (und_s.hops, und_s.sigma)


# ---- id-type coercion, duplicate seeds, null weights — the python
# finishers must mirror the distributed loops on these edges exactly.

def test_bfs_cutover_string_anchor_long_ids(spark, distributed):
    # the distributed loop CASTS the string anchor to the edge id type;
    # the python finisher must key its dicts with the same coerced
    # value (it once silently returned anchor-only results)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 1)], "src long, dst long"
    )
    fast = {(r.id, r.hops) for r in bfs_distances(edges, "1").collect()}
    with distributed():
        slow = {(r.id, r.hops) for r in bfs_distances(edges, "1").collect()}
    assert fast == slow == {(1, 0), (2, 1), (3, 2), (4, 3)}
    # target coercion too (early exit at the target's level)
    fast_t = {
        (r.id, r.hops)
        for r in bfs_distances(edges, "1", target="3").collect()
    }
    with distributed():
        slow_t = {
            (r.id, r.hops)
            for r in bfs_distances(edges, "1", target="3").collect()
        }
    assert fast_t == slow_t == {(1, 0), (2, 1), (3, 2)}


def test_sssp_cutover_string_anchor_long_ids(spark, distributed):
    edges = spark.createDataFrame(
        [(1, 2, 1.5), (2, 3, 0.25), (1, 3, 10.0)], "src long, dst long, w double"
    )

    def run():
        return sorted(
            (r.id, r.d) for r in sssp_distances(edges, "1", max_hops=4).collect()
        )

    fast = run()
    with distributed():
        slow = run()
    assert fast == slow == [(1, 0.0), (2, 1.5), (3, 1.75)]


def test_sigma_cutover_string_anchor_long_ids(spark, distributed):
    edges = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 3), (3, 4)], "src long, dst long"
    )
    fast = shortest_path_sigma(edges, "1", "4", directed=True, max_hops=4).first()
    with distributed():
        slow = shortest_path_sigma(
            edges, "1", "4", directed=True, max_hops=4
        ).first()
    assert (fast.hops, fast.sigma) == (slow.hops, slow.sigma) == (2, 2)


def test_multi_source_bfs_duplicate_seeds(spark, sim_edges, distributed):
    # the distributed loop keeps duplicate list-form seed rows at hop 0
    # only (visited starts as the raw frontier; later levels are
    # distinct-ed); the python finisher must produce the SAME multiset
    seeds = ["P-7", "P-1", "P-7", "P-7"]

    def run():
        return sorted(
            (r.seed, r.id, r.hops)
            for r in multi_source_bfs(sim_edges, seeds, max_hops=4).collect()
        )

    fast = run()
    with distributed():
        slow = run()
    assert fast == slow
    assert fast.count(("P-7", "P-7", 0)) == 3  # dup seeds only at hop 0


def test_sssp_cutover_null_weights(spark, distributed):
    # null weights: the distributed min-aggregate keeps the node with a
    # NULL distance when nulls are its only candidates and never lets a
    # null beat a real distance — the python loop must mirror both
    edges = spark.createDataFrame(
        [(1, 2, None), (1, 3, 2.0), (3, 2, 1.0), (2, 4, None)],
        "src long, dst long, w double",
    )

    def run():
        return sorted(
            (r.id, r.d) for r in sssp_distances(edges, 1, max_hops=4).collect()
        )

    fast = run()
    with distributed():
        slow = run()
    assert fast == slow == [(1, 0.0), (2, 3.0), (3, 2.0), (4, None)]
