"""The anchored request path: the engine's numpy kernel over its
driver-held vector block gives the Catalyst fold's edges bit for bit,
degenerate vectors give null similarities instead of errors, and the
one-hop Cypher route reads a local relation while every other shape
reads the full edge frame. That full frame, the block kernel's pairs
below the gate, equals the fold as well, and a filter on an id stays
below its pair join. Each case runs with the default driver gate and
with the ``distributed`` fixture, which sends the engine's edge reads
through the Catalyst plans."""

from __future__ import annotations

import shutil
from concurrent.futures import ThreadPoolExecutor
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from providenciasbigdata_spark.compat import graph as _graph
from providenciasbigdata_spark.compat.documents import rulings_view
from providenciasbigdata_spark.compat.graph import build_similarity_edges, nodes_view
from providenciasbigdata_spark.compat.ir import cypher_run
from providenciasbigdata_spark.engine import ProvidenciasEngine
from providenciasbigdata_spark.io import load_table

from conftest import SF_ORACLE, SF_SMOKE

CYPHER_NEIGHBORHOOD = """
    MATCH (a:Providencia {id: $providencia})-[r:SIMILAR]->(b:Providencia)
    WHERE r.similitud >= $rango_min AND r.similitud <= $rango_max
    RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud
    """
CYPHER_INCOMING = (
    "MATCH (a:Providencia {id: $origen})<-[r:SIMILAR]-(b:Providencia) "
    "WHERE r.similitud >= $lo AND r.similitud <= $hi "
    "RETURN a.id AS origen, b.id AS fuente, r.similitud AS similitud"
)
CYPHER_MULTI_ANCHOR = (
    "MATCH (a:Providencia)-[r:SIMILAR]->(b:Providencia) "
    "WHERE a.id IN $origenes AND r.similitud >= $lo AND r.similitud <= $hi "
    "RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud"
)
NOT_NODES = ["nope", "P-abc", "P-", "", "P-007", "P-999999"]


def _edge_key(r):
    """A total order on edge rows, null similitudes included."""
    return (r.src, r.dst, r.similitud is None, r.similitud or 0.0)


@pytest.fixture(params=["driver", "distributed"])
def gate(request, distributed):
    """Run the test below the driver gate, then above it."""
    if request.param == "driver":
        yield request.param
    else:
        with distributed():
            yield request.param


def _store(tmp_path, vectors, value_type=pa.float64(), name="store") -> str:
    """A store holding ``vectors`` ({vec_id: list or None}, or a list of
    (vec_id, vector) pairs) as the embeddings table, next to the smoke
    fixture's documents."""
    store = tmp_path / name
    store.mkdir()
    shutil.copy(f"{SF_SMOKE}/documents.parquet", store / "documents.parquet")
    pairs = list(vectors.items()) if isinstance(vectors, dict) else vectors
    pq.write_table(
        pa.table({
            "vec_id": pa.array([i for i, _ in pairs], pa.int64()),
            "embedding": pa.array([v for _, v in pairs], pa.list_(value_type)),
        }),
        str(store / "embeddings.parquet"),
    )
    return str(store)


def _fold100(a, b) -> float:
    """cosine x 100 with the engine's arithmetic, left-to-right folds."""
    dot = sa = sb = 0.0
    for x, y in zip(a, b):
        dot, sa, sb = dot + x * y, sa + x * x, sb + y * y
    return dot / (float(np.sqrt(sa)) * float(np.sqrt(sb))) * 100


def _half_up(x: float) -> float:
    """Spark's round(x, 4) on a double: HALF_UP on its decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


@pytest.fixture(scope="module")
def oracle_edges(spark) -> dict[str, list]:
    """The sf0.01 fixture's full Catalyst edge build, by source node."""
    want: dict[str, list] = {}
    for r in build_similarity_edges(load_table(spark, SF_ORACLE, "embeddings")).collect():
        want.setdefault(r.src, []).append(r)
    return want


def test_kernel_matches_the_catalyst_fold_for_every_anchor(spark, gate, oracle_edges):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    want = oracle_edges
    ids = sorted(int(src[2:]) for src in want)
    for a in (ids[0], 7, ids[-1]):
        anchored = build_similarity_edges(emb, anchor_vec_id=a).collect()
        assert sorted(anchored) == sorted(want[f"P-{a}"])
    if gate == "driver":
        # every anchor's kernel row, stacked into one local relation that
        # Spark rounds in one pass, as anchored_edges rounds one row
        block = _graph.VectorBlock(emb.select("vec_id", "embedding").toArrow())
        rows = [_graph.anchored_cosine100(block, a) for a in ids]
        src, dst, values, valid = (np.concatenate(c) for c in zip(*rows))
        stacked = spark.createDataFrame(
            pa.table({"src_id": src, "dst_id": dst, "cos100": pa.array(values, mask=~valid)})
        )
        got = _graph._edge_frame(stacked, F.col("cos100"), 4).collect()
        assert sorted(got) == sorted(r for a in ids for r in want[f"P-{a}"])
    # and the engine's own reads, below and above the gate
    eng = ProvidenciasEngine(spark, SF_ORACLE)
    anchors = ids[:: len(ids) // (25 if gate == "driver" else 4)]
    with ThreadPoolExecutor(4) as pool:
        got = pool.map(lambda a: sorted(eng.edges(anchor_vec_id=a).collect()), anchors)
        for a, rows in zip(anchors, got):
            assert rows == sorted(want[f"P-{a}"]), a
    # neighborhood_graph's fused read: the range ends are similitudes
    # of the anchor's own edges, and both ends are inclusive
    for a in anchors[:3]:
        sims = sorted(r.similitud for r in want[f"P-{a}"])
        lo, hi = sims[len(sims) // 4], sims[3 * len(sims) // 4]
        hits = {(r.dst, r.similitud) for r in want[f"P-{a}"] if lo <= r.similitud <= hi}
        nodes, edges = eng.neighborhood_graph(f"P-{a}", lo, hi)
        rows = edges.collect()
        assert {(r.destino, r.similitud) for r in rows} == hits and len(rows) == len(hits)
        assert {r.origen for r in rows} == {f"P-{a}"}
        assert [r.id for r in nodes.collect()] == sorted({f"P-{a}", *(d for d, _ in hits)})
    eng.release()


def test_rounding_is_sparks_half_up(spark, tmp_path, gate):
    # unit-norm pairs against (1, 0) whose cosine x 100 prints with a
    # 5 in the fifth decimal: half-even and HALF_UP round them apart
    others = [
        (0.1234565, 0.9923499849386556),
        (-0.1234565, 0.9923499849386556),
        (0.2790025, 0.9602903753520339),
        (0.3567755, 0.9341901533412511),
        (2.5e-06, 0.999999999996875),
    ]
    vectors = {0: [1.0, 0.0], **{i: list(v) for i, v in enumerate(others, 1)}}
    store = _store(tmp_path, vectors)
    raw = {f"P-{i}": _fold100(vectors[0], v) for i, v in enumerate(others, 1)}
    assert all(_half_up(x) != float(np.round(x, 4)) for x in raw.values())
    eng = ProvidenciasEngine(spark, store)
    got = eng.edges(anchor_vec_id=0).collect()
    emb = load_table(spark, store, "embeddings")
    assert sorted(got) == sorted(build_similarity_edges(emb, anchor_vec_id=0).collect())
    assert {r.dst: r.similitud for r in got} == {d: _half_up(x) for d, x in raw.items()}
    eng.release()


def test_degenerate_vectors_have_no_edges(spark, tmp_path, gate):
    # a zero norm used to raise DIVIDE_BY_ZERO (ANSI mode) from any row
    vectors = {
        0: [0.0, 0.0, 0.0, 0.0],  # zero norm
        1: [1.0, 2.0, 3.0, 4.0],
        2: [4.0, 3.0, 2.0, 1.0],
        3: None,  # null embedding
        4: [1.0, 2.0],  # short: no edge to a full-length row
        5: [2.0, 1.0],  # ... but one to a row of its own length
        6: [1.0, None, 3.0, 4.0],  # null element
    }
    store = _store(tmp_path, vectors, pa.float32())
    eng = ProvidenciasEngine(spark, store)
    want = build_similarity_edges(load_table(spark, store, "embeddings")).collect()
    for a in vectors:
        got = eng.edges(anchor_vec_id=a).collect()
        assert sorted(got) == sorted(r for r in want if r.src == f"P-{a}")
        valued = {r.dst for r in got if r.similitud is not None}
        assert valued == {1: {"P-2"}, 2: {"P-1"}, 4: {"P-5"}, 5: {"P-4"}}.get(a, set())
    assert {r.dst: r.similitud for r in eng.edges(anchor_vec_id=1).collect()}["P-2"] == (
        _half_up(_fold100(vectors[1], vectors[2]))
    )
    for anchor, dsts in (("P-0", []), ("P-3", []), ("P-6", []), ("P-1", ["P-2"])):
        nodes, edges = eng.neighborhood_graph(anchor, -100.0, 100.0)
        assert [r.destino for r in edges.collect()] == dsts
        assert [r.id for r in nodes.collect()] == sorted({anchor, *dsts})
        cy = eng.run_cypher(
            CYPHER_NEIGHBORHOOD,
            {"providencia": anchor, "rango_min": -100.0, "rango_max": 100.0},
        )
        assert [r.destino for r in cy.collect()] == dsts
    eng.release()


def test_empty_embeddings_and_anchors_that_are_not_nodes(spark, tmp_path, gate):
    empty = ProvidenciasEngine(spark, _store(tmp_path, {}))
    assert empty.edges(anchor_vec_id=0).collect() == []
    nodes, edges = empty.neighborhood_graph("P-0")
    assert [r.id for r in nodes.collect()] == ["P-0"] and edges.collect() == []
    params = {"providencia": "P-0", "rango_min": 0.0, "rango_max": 100.0}
    assert empty.run_cypher(CYPHER_NEIGHBORHOOD, params).collect() == []
    empty.release()

    eng = ProvidenciasEngine(spark, SF_SMOKE)
    assert eng.edges(anchor_vec_id=999_999).collect() == []
    for anchor in NOT_NODES:
        nodes, edges = eng.neighborhood_graph(anchor, 0.0, 100.0)
        assert [r.id for r in nodes.collect()] == [anchor]
        assert edges.collect() == [] and edges.columns == ["origen", "destino", "similitud"]
        params = {"providencia": anchor, "rango_min": 0.0, "rango_max": 100.0}
        assert eng.run_cypher(CYPHER_NEIGHBORHOOD, params).collect() == []
    eng.release()


def _plan_nodes(df) -> list[str]:
    """Every node name of ``df``'s executed plan (run it first),
    looking through adaptive query stages."""

    def walk(plan):
        name = plan.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(plan.executedPlan())
        if name.endswith("QueryStage"):
            return walk(plan.plan())
        kids = plan.children()
        return [name] + [n for i in range(kids.size()) for n in walk(kids.apply(i))]

    return walk(df._jdf.queryExecution().executedPlan())


def test_cypher_routes_only_the_one_hop_outgoing_shape(spark, monkeypatch):
    from providenciasbigdata_spark.queries.compat_queries import (
        CYPHER_TWO_HOP_MOTIF,
        CYPHER_VARLEN,
    )

    eng = ProvidenciasEngine(spark, SF_SMOKE)
    reads = []
    edges = eng.edges
    monkeypatch.setattr(
        eng, "edges", lambda anchor_vec_id=None: reads.append(anchor_vec_id) or edges(anchor_vec_id)
    )
    emb = load_table(spark, SF_SMOKE, "embeddings")
    ref_edges = build_similarity_edges(emb).persist()
    ref_nodes = nodes_view(rulings_view(load_table(spark, SF_SMOKE, "documents")))
    cases = [
        (CYPHER_NEIGHBORHOOD, {"providencia": "P-7", "rango_min": 20.0, "rango_max": 90.0}, 7),
        (CYPHER_INCOMING, {"origen": "P-7", "lo": 20.0, "hi": 90.0}, None),
        (
            CYPHER_TWO_HOP_MOTIF,
            {"origen": "P-7", "lo1": 30.0, "hi1": 100.0, "lo2": 32.0, "hi2": 100.0},
            None,
        ),
        (CYPHER_VARLEN, {"origen": "P-7", "lo": 30.0, "hi": 100.0}, None),
        (CYPHER_MULTI_ANCHOR, {"origenes": ["P-3", "P-7"], "lo": 25.0, "hi": 100.0}, None),
    ]
    for query, params, read in cases:
        reads.clear()
        got = eng.run_cypher(query, params)
        rows = got.collect()
        assert reads == [read], query
        want = cypher_run(query, nodes=ref_nodes, edges=ref_edges, params=params)
        assert sorted(rows) == sorted(want.collect()) and rows, query
        if read is not None:
            plan = _plan_nodes(got)
            assert {n for n in plan if "Scan" in n} == {"LocalTableScan"}
            assert "BroadcastNestedLoopJoin" not in plan
    ref_edges.unpersist()
    eng.release()


def test_full_edge_build_matches_the_catalyst_fold(spark, gate, oracle_edges):
    # below the gate the block kernel scores every sf0.01 pair, on the
    # driver (its 250k pairs are one task's), above it the Catalyst fold
    # does; both give the fold's rows exactly
    _full_build_matches(spark, oracle_edges, gate, udf=False)


def test_full_edge_build_in_the_udf_matches_the_catalyst_fold(spark, oracle_edges, monkeypatch):
    # a build of more pairs than one task's scores them in an Arrow UDF
    monkeypatch.setattr(_graph, "_PAIRS_PER_TASK", 1)
    _full_build_matches(spark, oracle_edges, "driver", udf=True)


def _full_build_matches(spark, oracle_edges, gate: str, udf: bool) -> None:
    eng = ProvidenciasEngine(spark, SF_ORACLE)
    edges = eng.edges()
    plan = edges._jdf.queryExecution().optimizedPlan().toString()
    assert ("ArrowEvalPython" in plan) == udf
    got = sorted(edges.collect())
    assert got == sorted(r for rows in oracle_edges.values() for r in rows)
    assert eng.edges() is edges or gate == "distributed"  # one frame per version
    eng.release()


def test_full_edge_build_of_degenerate_vectors(spark, tmp_path, gate):
    _degenerate_builds_match(spark, tmp_path)


def test_full_edge_build_of_degenerate_vectors_in_the_udf(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(_graph, "_PAIRS_PER_TASK", 1)
    _degenerate_builds_match(spark, tmp_path)


def _degenerate_builds_match(spark, tmp_path) -> None:
    stores = {
        "degenerate": [
            (0, [0.0, 0.0, 0.0, 0.0]),  # zero norm
            (1, [1.0, 2.0, 3.0, 4.0]),
            (2, [4.0, 3.0, 2.0, 1.0]),
            (3, None),  # null embedding
            (4, [1.0, 2.0]),  # another length
            (5, [2.0, 1.0]),
            (6, [1.0, None, 3.0, 4.0]),  # null element
            (1, [0.5, 0.5, 0.5, 0.25]),  # a second vector under id 1
            (None, [1.0, 1.0, 1.0, 1.0]),  # no id: in no edge
        ],
        "single": [(0, [1.0, 2.0])],
        "empty": [],
    }
    for name, vectors in stores.items():
        store = _store(tmp_path, vectors, pa.float32(), name)
        eng = ProvidenciasEngine(spark, store)
        want = build_similarity_edges(load_table(spark, store, "embeddings")).collect()
        got = eng.edges().collect()
        assert sorted(got, key=_edge_key) == sorted(want, key=_edge_key), name
        eng.release()
        if name == "degenerate":
            valued = sorted((r.src, r.dst) for r in got if r.similitud is not None)
            assert valued == [
                ("P-1", "P-2"), ("P-1", "P-2"), ("P-2", "P-1"), ("P-2", "P-1"),
                ("P-4", "P-5"), ("P-5", "P-4"),
            ]
            assert len(got) == 8 * 7 - 2  # two rows under id 1 do not pair
        else:
            assert got == []


def _pair_sides(df) -> tuple[str, str]:
    """The two sides of the edge build's pair join in ``df``'s optimized
    plan: "anchored" where a filter on the anchor's id sits below the
    join, or where that filter has been folded into a local relation of
    at most one row; else "full"."""

    def find_join(plan):
        if plan.nodeName() == "Join":
            return plan
        kids = plan.children()
        return next(
            (j for j in (find_join(kids.apply(i)) for i in range(kids.size())) if j), None
        )

    def anchored(plan) -> bool:
        if plan.nodeName() == "Filter" and "= P-7)" in plan.condition().toString():
            return True
        if plan.nodeName() == "LocalRelation":
            return plan.data().size() <= 1
        kids = plan.children()
        return any(anchored(kids.apply(i)) for i in range(kids.size()))

    join = find_join(df._jdf.queryExecution().optimizedPlan())
    kids = join.children()
    return tuple("anchored" if anchored(kids.apply(i)) else "full" for i in range(2))


def test_an_id_filter_on_the_full_build_stays_below_the_pair_join(spark, gate):
    # Catalyst pushes a filter on src or dst below the join into its
    # side, so an anchored read of the full build pairs O(n) rows, not
    # O(n^2); this covers Cypher shapes the one-hop route does not take
    eng = ProvidenciasEngine(spark, SF_SMOKE)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    ref = build_similarity_edges(emb)
    out = eng.edges().filter(F.col("src") == "P-7")
    assert _pair_sides(out) == ("anchored", "full")
    assert sorted(out.collect()) == sorted(ref.filter(F.col("src") == "P-7").collect())
    params = {"origen": "P-7", "lo": 20.0, "hi": 90.0}
    incoming = eng.run_cypher(CYPHER_INCOMING, params)
    assert _pair_sides(incoming) == ("full", "anchored")
    ref_nodes = nodes_view(rulings_view(load_table(spark, SF_SMOKE, "documents")))
    want = cypher_run(CYPHER_INCOMING, nodes=ref_nodes, edges=ref, params=params).collect()
    assert sorted(incoming.collect()) == sorted(want) and want
    eng.release()
