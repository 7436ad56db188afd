"""Frames made on the driver are ``session.LocalFrame``s: collecting a
driver finisher's result, an empty search result or the one-row id
cast runs no Spark job, and each frame keeps the schema it declares,
nullability included. A ``LocalFrame`` answers ``collect``,
``toPandas``, ``toArrow`` and a by-name ``drop`` from its held Arrow
table exactly as the eagerly built JVM relation does, and builds that
relation for everything else. No module of the package builds a frame
any other way. A size gate collects the driver path's rows in the same
action that decides it (``session.collect_below``), and
``distributed()`` forces every such gate. The engine's reads over a
warm document block, its anchored graph reads over the vector block and
a BM25 search over a driver-held index run no Spark job, and the
gateway calls of the request path's reads are pinned."""

from __future__ import annotations

import ast
import datetime
import importlib
import inspect
import math
import pathlib
import threading

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import example, given, settings, strategies as st
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
from providenciasbigdata_spark.compat.documents import to_result_frame
from providenciasbigdata_spark.engine import ProvidenciasEngine
from providenciasbigdata_spark.operators import graph_algos as G
from providenciasbigdata_spark.operators import postings
from providenciasbigdata_spark.session import LocalFrame, collect_below, local_frame

PACKAGE = pathlib.Path(providenciasbigdata_spark.__file__).parent
_CYPHER_NEIGHBORHOOD = (
    "MATCH (a:Providencia {id: $providencia})-[r:SIMILAR]->(b:Providencia) "
    "WHERE r.similitud >= $rango_min AND r.similitud <= $rango_max "
    "RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud"
)


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
            G.connected_components(edges),
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
    only ``session.local_frame`` and the lazy relation of
    ``session.LocalFrame`` may call it."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == PACKAGE / "session.py":
            frame_makers = [
                n for n in tree.body
                if (isinstance(n, ast.FunctionDef) and n.name == "local_frame")
                or (isinstance(n, ast.ClassDef) and n.name == "LocalFrame")
            ]
            assert len(frame_makers) == 2
            allowed = {id(n) for m in frame_makers for n in ast.walk(m)}
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


def _gateway_calls(spark, fn) -> tuple:
    """(fn(), the number of py4j commands it sent to the JVM). Only the
    calling thread's commands count: py4j's finalizer thread and the
    session's unpersist thread share the client and may send theirs
    meanwhile, for handles and frames that earlier calls dropped."""
    client = spark.sparkContext._gateway._gateway_client
    caller = threading.get_ident()
    sent = []
    send = client.send_command

    def counted(*args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(args)
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        out = fn()
    finally:
        del client.send_command
    return out, len(sent)


def test_warm_mongo_reads_run_no_job(spark, sf_dir, count_jobs):
    eng = ProvidenciasEngine(spark, sf_dir)
    assert eng.count_documents({}) > 0  # builds the version and its block
    # numpy scalars too, as a caller drawing values from numpy passes them
    q = {"tipo": np.str_("src3"), "anio": {"$gte": np.int64(2005)}, "$text": {"$search": "merge -zzz"}}
    page = {"projection": {"providencia": 1, "anio": 1}, "sort": [("anio", -1)], "limit": 5}
    year = str(eng.find_one(q)["anio"])  # a numeric string, as a form sends it
    reads = {
        "count_documents": lambda: eng.count_documents(q),
        "distinct": lambda: eng.distinct("anio", q),
        "find_one": lambda: eng.find_one(q, sort=[("providencia", 1)]),
        "query_mongo": lambda: eng.query_mongo(q, **page).collect(),
        "query_rulings": lambda: len(to_result_frame(eng.query_rulings(tipo="src3"))),
        "query_rulings_conjunctive": lambda: eng.query_rulings(
            tipo="src3", anio=year, texto="merge", conjunctive=True
        ).collect(),
    }
    # the anchored reads and BM25 finish on the driver: the reference's
    # neighborhood template (streamlit_app.py:60-64) and the top 10
    index = postings.build_bm25_index(eng.rulings())
    params = {"providencia": "P-7", "rango_min": 20.0, "rango_max": 100.0}
    reads |= {
        "neighborhood_graph": lambda: [f.collect() for f in eng.neighborhood_graph("P-7", 20.0, 100.0)],
        "run_cypher": lambda: eng.run_cypher(_CYPHER_NEIGHBORHOOD, params).collect(),
        "bm25_search": lambda: postings.bm25_search(index, ["merge", "spark"], k=10).collect(),
    }
    reads["neighborhood_graph"]()  # its first anchored read builds the vector block
    for name, read in reads.items():
        out, jobs = count_jobs(read)
        assert out and jobs == 0, name
    assert reads["run_cypher"]() == reads["neighborhood_graph"]()[1]
    # gateway calls per read on the warm engine, single-threaded: the
    # driver's answers make none; toPandas reads its configuration
    calls = {
        "count_documents": lambda: eng.count_documents(q),
        "query_mongo": lambda: eng.query_mongo(q, **page).collect(),
        "query_rulings": lambda: to_result_frame(eng.query_rulings(tipo="src3")),
        "neighborhood_graph": reads["neighborhood_graph"],
        "run_cypher": reads["run_cypher"],
        "bm25_search": reads["bm25_search"],
    }
    bounds = {name: 0 for name in calls} | {"query_rulings": 10}
    sent = {name: _gateway_calls(spark, call)[1] for name, call in calls.items()}
    assert all(sent[name] <= bound for name, bound in bounds.items()), sent
    index.release()
    eng.release()


# ---- LocalFrame against the eagerly built relation ------------------------

_COLUMNS = {
    "int32": (pa.int32(), st.integers(-(2**31), 2**31 - 1)),
    "int64": (pa.int64(), st.integers(-(2**63), 2**63 - 1)),
    "float32": (pa.float32(), st.floats(width=32) | st.sampled_from([math.nan, -0.0])),
    "float64": (pa.float64(), st.floats() | st.sampled_from([math.nan, -0.0])),
    "bool": (pa.bool_(), st.booleans()),
    "string": (pa.string(), st.text(max_size=4)),
    "binary": (pa.binary(), st.binary(max_size=4)),
    "list": (pa.list_(pa.string()), st.lists(st.none() | st.text(max_size=3), max_size=3)),
    "date": (
        pa.date32(),
        st.dates(min_value=datetime.date(1900, 1, 1), max_value=datetime.date(2100, 1, 1)),
    ),
    "timestamp": (
        pa.timestamp("us"),
        st.datetimes(
            min_value=datetime.datetime(1900, 1, 1), max_value=datetime.datetime(2100, 1, 1)
        ),
    ),
}


@st.composite
def _arrow_tables(draw):
    """A table of 0-4 rows over some of ``_COLUMNS``, each nullable
    (holding nulls) or declared not null."""
    names = draw(st.lists(st.sampled_from(sorted(_COLUMNS)), min_size=1, max_size=5, unique=True))
    n = draw(st.integers(0, 4))
    fields, arrays = [], []
    for name in names:
        typ, values = _COLUMNS[name]
        nullable = draw(st.booleans())
        column = draw(st.lists(st.none() | values if nullable else values, min_size=n, max_size=n))
        fields.append(pa.field(name, typ, nullable=nullable))
        arrays.append(pa.array(column, typ))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def _pandas(pdf) -> str:
    """A pandas frame's columns, dtypes and values, NaN and -0.0 told apart."""
    return repr((list(pdf.columns), [str(t) for t in pdf.dtypes], pdf.to_dict("list")))


@settings(max_examples=25, deadline=None)
@given(table=_arrow_tables(), drop=st.lists(st.sampled_from(sorted(_COLUMNS) + ["nope"]), max_size=3))
@example(
    table=pa.table({
        "float64": pa.array([math.nan, -0.0, None], pa.float64()),
        "binary": pa.array([b"\x00a", None, b""], pa.binary()),
        "list": pa.array([["a", None], None, []], pa.list_(pa.string())),
        "timestamp": pa.array([datetime.datetime(1960, 5, 1, 0, 0, 0, 7), None, None], pa.timestamp("us")),
    }),
    drop=["list", "nope"],
)
@example(table=pa.table({"string": pa.array([], pa.string())}), drop=["string"])
def test_a_local_frame_answers_as_the_jvm_relation(spark, table, drop):
    frame = local_frame(spark, table)
    eager = spark.createDataFrame(table)
    assert isinstance(frame, LocalFrame) and frame._relation is None
    assert frame.schema == eager.schema  # nullability included
    assert frame.columns == eager.columns
    assert repr(frame.collect()) == repr(eager.collect())
    assert _pandas(frame.toPandas()) == _pandas(eager.toPandas())
    mine, theirs = frame.toArrow(), eager.toArrow()
    assert mine.schema == theirs.schema
    assert repr(mine.to_pylist()) == repr(theirs.to_pylist())
    dropped = frame.drop(*drop)
    assert isinstance(dropped, LocalFrame) and dropped.schema == eager.drop(*drop).schema
    assert _pandas(dropped.toPandas()) == _pandas(eager.drop(*drop).toPandas())
    # none of the above built the JVM relation
    assert frame._relation is None and dropped._relation is None
    assert frame.count() == eager.count()
    assert repr(frame.first()) == repr(eager.first())
    flipped = frame.columns[::-1]
    assert repr(frame.select(*flipped).collect()) == repr(eager.select(*flipped).collect())


def test_a_local_frame_sets_what_a_dataframe_sets(spark):
    """``LocalFrame.__init__`` sets DataFrame's instance attributes
    itself; one that a PySpark upgrade adds to ``DataFrame.__init__``
    must be added there too."""
    eager = spark.range(1)
    frame = local_frame(spark, pa.table({"id": pa.array([0], pa.int64())}))
    assert set(vars(eager)) - {"_jdf"} <= set(vars(frame))
    assert frame._jdf is frame._jdf  # built once, on the first read
    assert frame.collect() == eager.collect()


def test_drop_resolves_names_as_the_relation_does(spark):
    frame = local_frame(spark, pa.table({"Ab": [1], "c": [2]}))
    # Spark's resolver ignores case: such a name goes to the relation
    assert frame.drop("ab").columns == ["c"]
    assert frame.drop(F.col("c")).columns == ["Ab"]
    kept = frame.drop("c", "zz")
    assert isinstance(kept, LocalFrame) and kept.collect() == [(1,)]
