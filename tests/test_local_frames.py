"""Frames made on the driver are Arrow local relations
(``session.local_frame``): collecting a driver finisher's result, an
empty search result or the one-row id cast runs no Spark job, and each
frame keeps the schema it declares, nullability included. No module of
the package builds a frame any other way. A size gate collects the
driver path's rows in the same action that decides it
(``session.collect_below``), and ``distributed()`` forces every such
gate. The engine's Mongo reads over a warm document block run no Spark
job, and ``count_documents`` makes no gateway call."""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import providenciasbigdata_spark
from providenciasbigdata_spark.engine import ProvidenciasEngine
from providenciasbigdata_spark.operators import graph_algos as G
from providenciasbigdata_spark.operators import postings
from providenciasbigdata_spark.session import collect_below

PACKAGE = pathlib.Path(providenciasbigdata_spark.__file__).parent


def _schema(*fields) -> StructType:
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


@pytest.fixture(scope="module")
def edges(spark):
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("x", "y")]
    return spark.createDataFrame(rows, "src string, dst string")


@pytest.fixture(scope="module")
def weighted(spark):
    rows = [("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 5.0), ("c", "d", 1.0)]
    return spark.createDataFrame(rows, "src string, dst string, w double")


def test_driver_finishers_collect_without_a_job(spark, edges, weighted, count_jobs):
    ranks = _schema(("id", StringType(), True), ("rank", DoubleType(), False))
    cases = [
        (G.pagerank(edges), ranks, 6),
        (G.pagerank(spark.createDataFrame([], "src string, dst string")), ranks, 0),
        (G.personalized_pagerank(edges, seeds=["a"]), ranks, 6),
        (
            G.bfs_distances(edges, "a"),
            _schema(("id", StringType(), True), ("hops", IntegerType(), True)),
            4,
        ),
        (
            G.sssp_distances(weighted, "a"),
            _schema(("id", StringType(), True), ("d", DoubleType(), True)),
            4,
        ),
        (
            G.shortest_path_sigma(edges, "a", "d"),
            _schema(("hops", LongType(), True), ("sigma", LongType(), True)),
            1,
        ),
        (
            G.shortest_path_sigma(edges, "a", "x"),
            _schema(("hops", LongType(), True), ("sigma", LongType(), True)),
            0,
        ),
        (
            G.strongly_connected_components(edges),
            _schema(("id", StringType(), True), ("component", StringType(), True)),
            6,
        ),
        (
            G.label_propagation(edges),
            _schema(("id", StringType(), True), ("community", StringType(), True)),
            6,
        ),
        (
            G.multi_source_bfs(edges, ["a", "x"]),
            _schema(
                ("seed", StringType(), True), ("id", StringType(), True),
                ("hops", IntegerType(), False),
            ),
            6,
        ),
        (
            G.eigenvector_centrality(edges),
            _schema(("id", StringType(), True), ("score", DoubleType(), False)),
            6,
        ),
    ]
    for frame, schema, n in cases:
        rows, jobs = count_jobs(frame.collect)
        assert (len(rows), jobs) == (n, 0), frame.columns
        assert frame.schema == schema
    assert {r.id: r.hops for r in G.bfs_distances(edges, "a").collect()} == {
        "a": 0, "b": 1, "c": 2, "d": 3
    }
    # the components' labels are a local relation joined onto the nodes,
    # which come from the edges: its schema, not its job count, is pinned
    components = G.connected_components(edges)
    assert components.schema == _schema(
        ("id", StringType(), True), ("component", StringType(), True)
    )


def test_empty_searches_collect_without_a_job(spark, count_jobs):
    index = spark.createDataFrame([("t", [1, 2])], "token string, postings array<bigint>")
    for frame in (
        postings.search_or(index, []),
        postings.search_and(index, []),
        postings.search_prefix(index, ""),
        postings.search_fuzzy(index, []),
    ):
        assert count_jobs(frame.collect) == ([], 0)
        assert frame.schema == _schema(("doc_id", LongType(), True))


def test_collect_below_decides_the_gate_in_one_collect(spark, count_jobs):
    # a materialized frame over four partitions, not in id order
    df = spark.range(0, 40, numPartitions=4).select(((F.col("id") * 37) % 41).alias("x"))
    df = df.localCheckpoint()
    assert collect_below(df, 40).num_rows == 40
    assert collect_below(df, 39) is None
    # gate 0 (and below) decides without a job
    assert count_jobs(lambda: collect_below(df, 0)) == (None, 0)
    assert count_jobs(lambda: collect_below(df, -1)) == (None, 0)
    table, jobs = count_jobs(lambda: collect_below(df, 100))
    assert table.column("x").to_pylist() == [r.x for r in df.collect()]
    # one job over the materialized input; a shuffle in the plan adds one
    assert jobs == 1
    assert count_jobs(lambda: collect_below(df.repartition(4), 100))[1] == 2


def test_driver_gate_runs_fewer_jobs(spark, edges, count_jobs):
    # the gate used to count the edges, then collect them: 5 jobs each
    assert count_jobs(lambda: G.pagerank(edges))[1] == 3
    assert count_jobs(lambda: G.connected_components(edges))[1] == 3


def test_edge_id_cast_runs_no_job(spark, count_jobs):
    # a string anchor over long ids, past 2**53 so a float detour shows
    big = 2**53 + 1
    assert count_jobs(lambda: G._as_edge_id(spark, LongType(), str(big), 7)) == (big, 0)
    assert G._as_edge_id(spark, LongType(), 5, 7) == 5  # same type: no cast at all


def test_reliable_checkpoints_leave_the_context_checkpoint_dir(spark, edges, tmp_path, distributed):
    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    ckdir = tmp_path / "ck"
    with distributed():
        labels = G.connected_components(edges, checkpoint_dir=str(ckdir)).collect()
        ranks = G.pagerank(edges, max_iter=3, checkpoint_dir=str(ckdir)).collect()
    assert sc.getCheckpointDir() == before
    assert {r.id: r.component for r in labels} == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}
    assert len(ranks) == 6
    # each call writes under a directory of its own
    assert len(list(ckdir.iterdir())) == 2


def test_no_module_builds_a_frame_outside_local_frame():
    """``createDataFrame`` over a Python list makes a pickled-row RDD;
    only ``session.local_frame`` may call it."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == PACKAGE / "session.py":
            fn = next(
                n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
            )
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert offenders == []


def _gate_constants(path: pathlib.Path) -> set[tuple[str, str]]:
    """(module, name) of each module-level int that code in ``path``
    passes to ``collect_below`` as its gate, by name or as
    ``module.NAME``."""
    tree = ast.parse(path.read_text(), str(path))
    calls = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and getattr(n.func, "id", getattr(n.func, "attr", None)) == "collect_below"
    ]
    if not calls:
        return set()
    parts = path.relative_to(PACKAGE.parent).with_suffix("").parts
    module = importlib.import_module(".".join(p for p in parts if p != "__init__"))
    found = set()
    for call in calls:
        gates = call.args[1:] + [k.value for k in call.keywords if k.arg == "max_rows"]
        for ref in (r for g in gates for r in ast.walk(g)):
            owner, name = module, None
            if isinstance(ref, ast.Name):
                name = ref.id
            elif isinstance(ref, ast.Attribute) and isinstance(ref.value, ast.Name):
                owner, name = getattr(module, ref.value.id, None), ref.attr
            if name and inspect.ismodule(owner) and type(getattr(owner, name, None)) is int:
                found.add((owner.__name__, name))
    return found


def test_distributed_forces_every_collect_below_gate(distributed):
    """A module constant that gates a ``collect_below`` must be one that
    ``distributed()`` sets to 0, so the equivalence harness reaches the
    Spark side of every gate."""
    gates = set().union(*(_gate_constants(p) for p in sorted(PACKAGE.rglob("*.py"))))
    assert ("providenciasbigdata_spark.engine", "_DRIVER_MAX_DOCS") in gates
    assert ("providenciasbigdata_spark.operators.graph_algos", "_DRIVER_MAX_EDGES") in gates
    with distributed():
        missed = sorted(g for g in gates if getattr(importlib.import_module(g[0]), g[1]) != 0)
    assert missed == []


def test_warm_mongo_reads_run_no_job(spark, sf_dir, count_jobs, monkeypatch):
    eng = ProvidenciasEngine(spark, sf_dir)
    assert eng.count_documents({}) > 0  # builds the version and its block
    # numpy scalars too, as a caller drawing values from numpy passes them
    q = {"tipo": np.str_("src3"), "anio": {"$gte": np.int64(2005)}, "$text": {"$search": "merge -zzz"}}
    reads = {
        "count_documents": lambda: eng.count_documents(q),
        "distinct": lambda: eng.distinct("anio", q),
        "find_one": lambda: eng.find_one(q, sort=[("providencia", 1)]),
        "query_mongo": lambda: eng.query_mongo(
            q, projection={"providencia": 1, "anio": 1}, sort=[("anio", -1)], limit=5
        ).collect(),
    }
    for name, read in reads.items():
        out, jobs = count_jobs(read)
        assert out and jobs == 0, name
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command
    monkeypatch.setattr(client, "send_command", lambda *a, **k: sent.append(a) or send(*a, **k))
    assert eng.count_documents(q) > 0
    monkeypatch.undo()
    assert sent == []
    eng.release()
