"""Every driver gate gives the Spark path's answer.

Each gated operator runs at its default gate, where small inputs take
the driver path, and under ``distributed()``, where every gate is 0 and
even an empty input takes the Spark path. On small drawn edge sets and
corpora the two must agree: with ``==`` where the answer is discrete or
already rounded, and within the tolerance of each operator's cutover
test for PageRank, personalized PageRank and eigenvector centrality
(1e-12) and for the Lloyd centroids (1e-8). The drawn inputs include
the degenerate set: empty inputs, a singleton, null elements, null and
duplicate ids, self-loops, parallel edges and unknown anchors. A
documented ``ValueError`` must be raised on both sides alike.

Each example runs Spark's distributed loops, so examples are few: the
point is the drawn shapes, not volume.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from providenciasbigdata_spark.operators import dedup, similarity
from providenciasbigdata_spark.operators import graph_algos as G
from providenciasbigdata_spark.operators.postings import bm25_search, build_bm25_index
from providenciasbigdata_spark.session import local_frame

_FEW = settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


def _both(distributed, run):
    """``run()`` at the default gates and under ``distributed()``; a
    ``ValueError`` stands for its type."""
    out = []
    for force in (False, True):
        try:
            if force:
                with distributed():
                    out.append(run())
            else:
                out.append(run())
        except ValueError:
            out.append(ValueError)
    return out


def _close(a, b, tol: float) -> bool:
    """Equal row lists, the last column within ``tol``."""
    if a is ValueError or b is ValueError:
        return a is b
    return len(a) == len(b) and all(
        x[:-1] == y[:-1] and math.isclose(x[-1], y[-1], rel_tol=0, abs_tol=tol)
        for x, y in zip(a, b)
    )


def _sorted_rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


# ---- graph finishers ------------------------------------------------------

_NODES = ["a", "b", "c", "d", "e"]
_WEIGHTS = st.sampled_from([0.5, 1.0, 2.0, -1.0, None])


def _edge_sets(nodes):
    return st.lists(st.tuples(st.sampled_from(nodes), st.sampled_from(nodes), _WEIGHTS), max_size=7)


_EDGES = _edge_sets(_NODES)
# the operators whose two paths also agree on null node ids
_EDGES_WITH_NULLS = _edge_sets(_NODES + [None])
_ANCHOR = st.sampled_from(["a", "b", "c", "zz"])  # "zz" is never a node

# name -> (call(edges, anchor, other), tolerance of the last column or
# None for ==, whether node ids may be null)
_GRAPH_OPS = {
    "connected_components": (lambda e, a, o: G.connected_components(e), None, True),
    "strongly_connected_components": (
        lambda e, a, o: G.strongly_connected_components(e), None, True,
    ),
    "scc_condensation": (lambda e, a, o: G.scc_condensation(e), None, True),
    "shortest_path_sigma": (lambda e, a, o: G.shortest_path_sigma(e, a, o), None, False),
    "bfs_distances": (
        # directed or not by the drawn pair's order
        lambda e, a, o: G.bfs_distances(e, a, max_hops=3, directed=a < o, target=o), None, False,
    ),
    "sssp_distances": (lambda e, a, o: G.sssp_distances(e, a, max_hops=3), None, False),
    "multi_source_bfs": (
        lambda e, a, o: G.multi_source_bfs(e, [a, o, a], max_hops=3), None, False,
    ),
    "multi_source_bfs_frame": (
        lambda e, a, o: G.multi_source_bfs(e, e.select("src").limit(2), max_hops=3), None, False,
    ),
    "label_propagation": (lambda e, a, o: G.label_propagation(e, n_rounds=3), None, False),
    "pagerank": (lambda e, a, o: G.pagerank(e, max_iter=3, weight_col="w"), 1e-12, False),
    "personalized_pagerank": (
        lambda e, a, o: G.personalized_pagerank(e, [a, o], max_iter=3), 1e-12, False,
    ),
    "eigenvector_centrality": (
        lambda e, a, o: G.eigenvector_centrality(e, max_iter=3), 1e-12, False,
    ),
}


@pytest.mark.parametrize("op", list(_GRAPH_OPS))
def test_graph_finishers_match_the_distributed_loops(spark, distributed, op):
    call, tol, nulls = _GRAPH_OPS[op]

    @_FEW
    @given(rows=_EDGES_WITH_NULLS if nulls else _EDGES, anchor=_ANCHOR, other=_ANCHOR)
    # a singleton node with only a self-loop, from an unknown anchor
    @example(rows=[("a", "a", 1.0)], anchor="zz", other="a")
    def check(rows, anchor, other):
        edges = local_frame(spark, rows, "src string, dst string, w double")
        driver, spark_side = _both(
            distributed, lambda: _sorted_rows(call(edges, anchor, other))
        )
        if tol is None:
            assert driver == spark_side, (rows, anchor, other)
        else:
            assert _close(driver, spark_side, tol), (rows, anchor, other, driver, spark_side)

    check()


# ---- BM25 ----------------------------------------------------------------

_VOCAB = ["ley", "corte", "fallo", "pena"]
_DOCS = st.lists(
    st.tuples(
        st.sampled_from([1, 2, 3, 4, None]),
        st.none() | st.lists(st.sampled_from(_VOCAB) | st.none(), max_size=5),
    ),
    max_size=6,
)


@_FEW
@given(
    docs=_DOCS,
    # at most two terms: a two-term sum is the same double in any order
    terms=st.lists(st.sampled_from(_VOCAB + ["nada"]), min_size=1, max_size=2, unique=True),
    k=st.sampled_from([1, 3, 10]),
)
@example(docs=[(None, ["ley"]), (1, [None, "ley"]), (1, []), (2, None)], terms=["ley"], k=3)
def test_bm25_driver_block_matches_the_spark_table(spark, distributed, docs, terms, k):
    frame = local_frame(spark, docs, "doc_id long, tokens array<string>")

    def run():
        index = build_bm25_index(frame)
        try:
            return (index.n_docs, index.avgdl, [tuple(r) for r in bm25_search(index, terms, k=k).collect()])
        finally:
            index.release()

    driver, spark_side = _both(distributed, run)
    assert driver == spark_side, (docs, terms, k)


# ---- MinHash near-dups ---------------------------------------------------

_TEXTS = st.none() | st.lists(st.sampled_from(["el", "juez", "fallo", "la", "corte"]), max_size=8).map(
    " ".join
)


@_FEW
@given(
    docs=st.lists(st.tuples(st.sampled_from([1, 2, 3, None]), _TEXTS), max_size=6),
    threshold=st.sampled_from([0.3, 0.6, 1.0]),
    ngram=st.sampled_from([1, 2]),
)
@example(docs=[(1, "el juez"), (1, "el juez"), (None, "el juez"), (2, None)], threshold=0.5, ngram=1)
def test_minhash_driver_bands_match_the_plan(spark, distributed, docs, threshold, ngram):
    frame = local_frame(spark, docs, "doc_id long, text string")

    def run():
        out = dedup.minhash_near_dups(frame, threshold=threshold, bands=4, rows_per_band=2, ngram=ngram)
        try:
            return _sorted_rows(out)
        finally:
            dedup.release(out)

    driver, spark_side = _both(distributed, run)
    assert driver == spark_side, (docs, threshold, ngram)


# ---- Lloyd trainers ------------------------------------------------------

@st.composite
def _corpora(draw):
    """(vec_id, embedding) rows at dim 4; a repeated id repeats its
    vector, so the id order of the rows is the same on both paths."""
    ids = draw(st.lists(st.sampled_from([0, 1, 2, 3, 4, 5, 6, None]), min_size=1, max_size=9))
    coord = st.floats(0.01, 4) | st.floats(-4, -0.01)  # no zero vector
    vecs = {i: draw(st.lists(coord, min_size=4, max_size=4)) for i in set(ids)}
    return [(i, vecs[i]) for i in ids]


@_FEW
@given(
    rows=_corpora(),
    k=st.integers(1, 3),
    train_sample=st.sampled_from([None, 3, 200_000]),
)
@example(rows=[(7, [1.0, 2.0, 3.0, 4.0])], k=2, train_sample=None)
def test_lloyd_driver_rounds_match_the_distributed_rounds(spark, distributed, rows, k, train_sample):
    emb = local_frame(spark, rows, "vec_id long, embedding array<double>")
    for train in (
        lambda: similarity.kmeans_centroids(emb, n_clusters=k, max_iter=3, train_sample=train_sample)[0],
        lambda: similarity.pq_train(emb, m=2, n_codes=k, max_iter=3, train_sample=train_sample),
    ):
        driver, spark_side = _both(distributed, train)
        assert driver.shape == spark_side.shape
        assert np.allclose(driver, spark_side, atol=1e-8), (rows, k, train_sample)
