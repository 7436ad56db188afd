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

The engine's Mongo reads are checked the same way: over a drawn
collection, a version with a document block (the default gate) and one
without (``distributed()``) must give the same counts, distinct values,
documents and pages, page schemas included, and raise the same errors.

Each example runs Spark's distributed loops, so examples are few: the
point is the drawn shapes, not volume.
"""

from __future__ import annotations

import math
import uuid
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.errors import PySparkException

from providenciasbigdata_spark.compat.documents import to_result_frame
from providenciasbigdata_spark.engine import ProvidenciasEngine
from providenciasbigdata_spark.operators import dedup, similarity
from providenciasbigdata_spark.operators import graph_algos as G
from providenciasbigdata_spark.operators.postings import bm25_search, build_bm25_index
from providenciasbigdata_spark.session import LocalFrame, local_frame

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


# node ids may be null: every operator drops such edges on both paths
_EDGES = st.lists(
    st.tuples(st.sampled_from(_NODES + [None]), st.sampled_from(_NODES + [None]), _WEIGHTS),
    max_size=7,
)
_ANCHOR = st.sampled_from(["a", "b", "c", "zz"])  # "zz" is never a node

# name -> (call(edges, anchor, other), tolerance of the last column or
# None for ==)
_GRAPH_OPS = {
    "connected_components": (lambda e, a, o: G.connected_components(e), None),
    "strongly_connected_components": (lambda e, a, o: G.strongly_connected_components(e), None),
    "scc_condensation": (lambda e, a, o: G.scc_condensation(e), None),
    "shortest_path_sigma": (lambda e, a, o: G.shortest_path_sigma(e, a, o), None),
    "bfs_distances": (
        # directed or not by the drawn pair's order
        lambda e, a, o: G.bfs_distances(e, a, max_hops=3, directed=a < o, target=o), None,
    ),
    "sssp_distances": (lambda e, a, o: G.sssp_distances(e, a, max_hops=3), None),
    "multi_source_bfs": (lambda e, a, o: G.multi_source_bfs(e, [a, o, a], max_hops=3), None),
    "multi_source_bfs_frame": (
        lambda e, a, o: G.multi_source_bfs(e, e.select("src").limit(2), max_hops=3), None,
    ),
    "label_propagation": (lambda e, a, o: G.label_propagation(e, n_rounds=3), None),
    "pagerank": (lambda e, a, o: G.pagerank(e, max_iter=3, weight_col="w"), 1e-12),
    "personalized_pagerank": (
        lambda e, a, o: G.personalized_pagerank(e, [a, o], max_iter=3), 1e-12,
    ),
    "eigenvector_centrality": (lambda e, a, o: G.eigenvector_centrality(e, max_iter=3), 1e-12),
}


@pytest.mark.parametrize("op", list(_GRAPH_OPS))
def test_graph_finishers_match_the_distributed_loops(spark, distributed, op):
    call, tol = _GRAPH_OPS[op]

    @_FEW
    @given(rows=_EDGES, anchor=_ANCHOR, other=_ANCHOR)
    # a singleton node with only a self-loop, from an unknown anchor
    @example(rows=[("a", "a", 1.0)], anchor="zz", other="a")
    # null endpoints: the driver path used to sort None among the ids,
    # and route a -> null -> b where the distributed joins never match
    @example(
        rows=[("a", None, 1.0), (None, "b", 1.0), ("a", "b", 1.0), ("b", "c", 1.0)],
        anchor="a", other="c",
    )
    @example(rows=[("a", None, 1.0), ("b", None, 1.0)], anchor="a", other="b")
    @example(rows=[("a", None, 1.0), ("a", "b", 1.0), (None, "c", 1.0)], anchor="a", other="c")
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


def test_components_drop_null_endpoints(spark, distributed):
    """A null id names no node: ``c``, reached only from a null, is
    not one either."""
    edges = local_frame(
        spark, [("a", None, 1.0), ("a", "b", 1.0), (None, "c", 1.0)], "src string, dst string, w double"
    )
    for rows in _both(distributed, lambda: _sorted_rows(G.connected_components(edges))):
        assert rows == [("a", "a"), ("b", "a")]


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
    # coarse digits (-1 rounds to tens, as Spark's ``setScale(-1)``)
    # round different sums to one score, so the order
    # among them, and which of them make the top k, is doc_id's
    round_digits=st.sampled_from([-1, 0, 1, 6]),
)
@example(docs=[(None, ["ley"]), (1, [None, "ley"]), (1, []), (2, None)], terms=["ley"], k=3, round_digits=6)
# five different sums that round to 0.1: the top 2 are the lowest ids
@example(
    docs=[(4, ["ley"]), (1, ["ley", "pena"]), (3, ["ley", "pena", "pena"]), (2, ["ley"] + ["pena"] * 3),
          (5, ["ley", "ley"])],
    terms=["ley"], k=2, round_digits=1,
)
def test_bm25_driver_block_matches_the_spark_table(spark, distributed, docs, terms, k, round_digits):
    frame = local_frame(spark, docs, "doc_id long, tokens array<string>")

    def run():
        index = build_bm25_index(frame)
        try:
            top = bm25_search(index, terms, k=k, round_digits=round_digits)
            return (index.n_docs, index.avgdl, [tuple(r) for r in top.collect()])
        finally:
            index.release()

    driver, spark_side = _both(distributed, run)
    assert driver == spark_side, (docs, terms, k, round_digits)


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


# ---- Mongo reads over the document block ---------------------------------

# (doc_id, source, text) rows of a ``documents`` table: the rulings view
# derives providencia and anio from doc_id (1 and 26 share an anio), so a
# null doc_id makes both null; source is the tipo
_COLLECTIONS = st.lists(
    st.tuples(
        st.sampled_from([1, 2, 26, 27, None]),
        st.sampled_from(["auto", "fallo", "Tutela", None]),
        _TEXTS,
    ),
    max_size=6,
)
# operands per field: matches, misses, numpy scalars, operands of another
# type (which Spark casts, or fails to cast under ANSI), None and
# malformed years
_OPERANDS = {
    "tipo": st.sampled_from(["auto", "fallo", "Tutela", np.str_("auto"), "zz", 5, None]),
    "anio": st.sampled_from([2001, 2002, np.int64(2001), 2027, "2001", 2.5, True, "x"]),
    "providencia": st.sampled_from(["P-1", "P-26", "P-3"]),
    "doc_id": st.sampled_from([1, 26, np.int64(26), 3, "1", 2**63]),
    "texto": st.sampled_from(["el juez", "la corte", None]),
    "tokens": st.just("juez"),
    "nope": st.just(1),  # no such field
}


def _operator_docs(field: str):
    v = _OPERANDS[field]
    some = st.lists(v, max_size=2)
    return st.one_of(
        v,
        st.fixed_dictionaries({"$in": some}),
        st.fixed_dictionaries({"$nin": some}),
        st.fixed_dictionaries({"$ne": v}),
        st.fixed_dictionaries({"$exists": st.sampled_from([True, False, 1])}),
        st.fixed_dictionaries({"$gte": v, "$lt": v}),
        st.fixed_dictionaries({"$gt": v}),
        st.fixed_dictionaries({"$lte": v}),
        st.fixed_dictionaries({"$not": st.fixed_dictionaries({"$in": some})}),
        st.fixed_dictionaries({"$not": st.fixed_dictionaries({"$gt": v})}),
        # outside the block's grammar, and malformed
        st.sampled_from([{"$regex": "^a"}, {"$size": 1}, {}, {"$foo": 1}, {"$in": "a"}, {"$not": 1}]),
    )


_TEXT_CLAUSES = st.fixed_dictionaries(
    {"$search": st.sampled_from(["juez", "juez -corte", "JUEZ fallo", "-juez", "", "júez", '"el juez"'])},
    optional={"$language": st.sampled_from(["none", "NONE", "spanish"])},
)


@st.composite
def _filters(draw, depth=0):
    """A filter document: field clauses, ``$text``, ``$and``/``$or``
    (an empty list is malformed) and ``$expr``."""
    kinds = ["field", "field", "text", "and", "or", "expr"] if depth == 0 else ["field", "text"]
    doc = {}
    for _ in range(draw(st.integers(0, 2))):
        kind = draw(st.sampled_from(kinds))
        if kind == "field":
            field = draw(st.sampled_from(list(_OPERANDS)))
            doc[field] = draw(_operator_docs(field))
        elif kind == "text":
            doc["$text"] = draw(_TEXT_CLAUSES)
        elif kind == "expr":
            doc["$expr"] = {"$gt": ["$anio", 2001]}
        else:
            doc[f"${kind}"] = draw(st.lists(_filters(depth + 1), max_size=2))
    return doc


# sorts by every field but tokens: rows that tie on it are equal rows
_FULL_SORT = [("anio", 1), ("tipo", -1), ("providencia", 1), ("texto", 1)]
_PAGES = st.fixed_dictionaries({
    "projection": st.sampled_from([
        None, {"providencia": 1, "anio": 1}, {"texto": 0, "tokens": 0}, {"tipo": 1, "_id": 0},
        {"_id": 0}, {"tipo": 1, "anio": 0}, {"nope": 1},
        {"tokens": {"$slice": 1}}, {"score": {"$meta": "textScore"}},
    ]),
    "sort": st.sampled_from([
        None, [("anio", -1), ("providencia", 1)], {"tipo": 1}, [("texto", -1)],
        [("anio", 2)], [("nope", 1)], [("tokens", 1)], "anio",
    ]),
    "limit": st.sampled_from([None, 0, 2, -2]),
})


def _outcome(call):
    """``call()``, or the type and condition (else message) of what it raised."""
    try:
        return ("ok", call())
    except Exception as exc:
        cond = exc.getCondition() if isinstance(exc, PySparkException) else str(exc)
        return ("raised", type(exc), cond)


def _hashable(row) -> tuple:
    return tuple(tuple(x) if isinstance(x, list) else x for x in row)


def _page(df) -> tuple:
    return df.schema, [_hashable(r) for r in df.collect()]


def _same_page(a, b, sort, limited: bool) -> bool:
    """Equal page outcomes up to the order of rows that tie on the sort:
    the same schema and row count; in order, the same sort key per row
    when the page holds every sort field; the same multiset of rows in
    every tie group that the limit did not cut (all of them without a
    limit)."""
    if a[0] != "ok" or b[0] != "ok":
        return a == b
    (schema, rows), (schema_b, rows_b) = a[1], b[1]
    if schema != schema_b or len(rows) != len(rows_b):
        return False
    fields = [f for f, _ in (sort.items() if isinstance(sort, dict) else sort or [])]
    names = schema.fieldNames()
    if not set(fields) <= set(names):
        return limited or Counter(rows) == Counter(rows_b)
    at = [names.index(f) for f in fields]
    keys = [tuple(r[i] for i in at) for r in rows]
    if keys != [tuple(r[i] for i in at) for r in rows_b]:
        return False
    groups = sorted(set(keys), key=keys.index)
    whole = groups[:-1] if limited else groups
    return all(
        Counter(r for r, k in zip(rows, keys) if k == g)
        == Counter(r for r, k in zip(rows_b, keys) if k == g)
        for g in whole
    )


def _write_documents(tmp_path, docs) -> str:
    """A data directory whose ``documents`` table holds ``docs``."""
    data_dir = tmp_path / uuid.uuid4().hex
    data_dir.mkdir()
    ids, sources, texts = zip(*docs) if docs else ((), (), ())
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "source": pa.array(sources, pa.string()),
            "text": pa.array(texts, pa.string()),
        }),
        data_dir / "documents.parquet",
    )
    return str(data_dir)


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(
    docs=_COLLECTIONS,
    queries=st.lists(_filters(), min_size=1, max_size=2),
    field=st.sampled_from(["tipo", "anio", "texto", "tokens", "nope"]),
    page=_PAGES,
)
@example(
    docs=[(1, "auto", "el juez"), (26, None, None), (None, "fallo", "la corte"), (1, "auto", "el juez")],
    queries=[
        {"anio": {"$gte": 2001}, "tipo": {"$in": ["auto", "fallo"]}},
        {"$text": {"$search": "juez -corte"}},
        # the negations match null fields
        {"tipo": {"$ne": "auto"}},
        {"tipo": {"$nin": ["auto"]}},
        {"$or": [{"texto": {"$exists": False}}, {"anio": {"$not": {"$gt": 2001}}}]},
        {"tipo": 5},
        None,
    ],
    field="tipo",
    page={"projection": {"providencia": 1, "anio": 1}, "sort": [("anio", -1), ("providencia", 1)], "limit": 2},
)
@example(docs=[], queries=[{"tipo": "auto"}, {}], field="anio", page={"projection": None, "sort": None, "limit": None})
def test_mongo_reads_over_the_block_match_the_plans(spark, distributed, tmp_path, docs, queries, field, page):
    data_dir = _write_documents(tmp_path, docs)
    limited = bool(page["limit"])

    def run():
        eng = ProvidenciasEngine(spark, data_dir)
        try:
            out = []
            for q in queries:
                out += [
                    _outcome(lambda: eng.count_documents(q)),
                    _outcome(lambda: eng.distinct(field, q)),
                    _outcome(lambda: eng.find_one(q, projection=page["projection"], sort=_FULL_SORT)),
                    _outcome(lambda: _page(eng.query_mongo(q, **page))),
                ]
            return out
        finally:
            eng.release()

    driver, spark_side = _both(distributed, run)
    for i, (a, b) in enumerate(zip(driver, spark_side)):
        if i % 4 == 3:
            assert _same_page(a, b, page["sort"], limited), (docs, queries[i // 4], page, a, b)
        else:
            assert a == b, (docs, queries[i // 4], field, a, b)


# ---- query_rulings over the document block -------------------------------

# a cascade's fields, each given or not: matches, misses, the values the
# cascade treats as not given ("" and None), a year as an int and as a
# numeric string, a malformed year, an operand of another type, and
# texto with bare terms, negations, a phrase, accents, punctuation and a
# plural ("fallos") that only the stemmed match finds
_CASCADES = st.fixed_dictionaries(
    {},
    optional={
        "providencia": st.sampled_from(["P-1", "P-26", "zz", "", None]),
        "tipo": st.sampled_from(["auto", "Tutela", "zz", "", None, 5]),
        "anio": st.sampled_from([2001, "2001", 2002, "2027", 0, "", None, "x"]),
        "texto": st.sampled_from(
            ["juez", "juez -corte", "JÚEZ fallos", "-juez", '"el juez"', "¿?", '"?"', "", None]
        ),
        "conjunctive": st.booleans(),
        "stem": st.booleans(),
    },
)
_ALL_FIELDS = {"providencia": "P-1", "tipo": "auto", "anio": "2001", "texto": "juez"}


def _result_frame(pdf) -> str:
    """``to_result_frame``'s columns, dtypes and rows, in one row order."""
    rows = sorted(map(repr, pdf.itertuples(index=False)))
    return repr((list(pdf.columns), [str(t) for t in pdf.dtypes], rows))


def _rulings_page(df) -> tuple:
    return df.schema, Counter(map(_hashable, df.collect())), _result_frame(to_result_frame(df))


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(docs=_COLLECTIONS, cascades=st.lists(_CASCADES, min_size=1, max_size=4))
@example(
    docs=[
        (1, "auto", "el juez"), (26, None, None), (None, "fallo", "la corte"), (1, "auto", "el juez"),
        (2, "Tutela", "el juez la corte fallo"),
    ],
    cascades=[
        _ALL_FIELDS,  # the exclusive cascade: providencia alone applies
        {**_ALL_FIELDS, "conjunctive": True}, {**_ALL_FIELDS, "texto": "corte", "conjunctive": True},
        {"tipo": "Tutela", "texto": "juez -corte", "conjunctive": True},
        {"anio": 2001}, {"anio": "2001", "tipo": ""}, {"tipo": "fallo"},
        {"texto": "juez -corte"}, {"texto": '"el juez"'}, {"texto": "¿?"},
        {"texto": "fallos", "stem": True}, {"texto": "fallos", "tipo": "auto", "stem": True},
        {"anio": "x"}, {"anio": "x", "providencia": "P-1"}, {},
    ],
)
@example(docs=[], cascades=[{"tipo": "auto"}, {}, {"texto": "juez", "conjunctive": True}])
def test_query_rulings_over_the_block_match_the_cascade(spark, distributed, tmp_path, docs, cascades):
    data_dir = _write_documents(tmp_path, docs)

    def run():
        eng = ProvidenciasEngine(spark, data_dir)
        try:
            return [_outcome(lambda: _rulings_page(eng.query_rulings(**c))) for c in cascades]
        finally:
            eng.release()

    driver, spark_side = _both(distributed, run)
    for c, a, b in zip(cascades, driver, spark_side):
        assert a == b, (docs, c, a, b)


# ---- anchored graph reads ------------------------------------------------

# 2-d embeddings whose cosines x 100 round to the bounds below: (2, 4)
# is parallel to (1, 2), (0, 0) has a zero norm, and a null embedding or
# a null element gives null similitudes
_VECTORS = st.sampled_from(
    [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [-1.0, 0.0], [1.0, 2.0], [2.0, 4.0], [0.0, 0.0], None, [1.0, None]]
)
# rounded similitudes of those pairs, a value between two of them,
# int bounds, a signed zero and NaN
_BOUNDS = st.sampled_from(
    [-100.0, -70.7107, -0.0, 0, 44.7214, 70.7107, 70, 89.4427, 94.8683, 94.86825, 100, 100.0, math.nan]
)
# vec ids 0-6 and node ids 0-8: some vectors are no node, some nodes
# have no vector
_GRAPHS = st.fixed_dictionaries({
    "vectors": st.dictionaries(st.integers(0, 6), _VECTORS, max_size=6),
    "nodes": st.sets(st.integers(0, 8), max_size=6),
})
_EVERY_KIND = {
    "vectors": {0: [1.0, 0.0], 1: [1.0, 1.0], 2: [1.0, 2.0], 3: [0.0, 0.0], 4: None, 5: [2.0, 4.0], 6: [1.0, None]},
    "nodes": {0, 1, 3, 7, 8},
}
_HOP = "MATCH (a:Providencia {id: $p})-[r:SIMILAR]->(b:Providencia) "
_HOP_QUERIES = [
    # the reference's template (streamlit_app.py:60-64)
    _HOP + "WHERE r.similitud >= $lo AND r.similitud <= $hi "
    "RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud",
    # literal bounds, strict and negated comparisons, reordered items
    _HOP + "WHERE r.similitud > 44.7214 AND r.similitud <> '70.7107' "
    "RETURN r.similitud AS s, b.id AS d, a.id AS o",
    _HOP + "WHERE r.similitud = $lo RETURN b.id AS d, b.id AS e",
    _HOP + "WHERE r.similitud < $hi AND r.similitud >= -100 RETURN r.similitud AS s",
    _HOP + "RETURN b.id AS d, r.similitud AS s",
    # an unbound parameter: the same ValueError
    _HOP + "WHERE r.similitud >= $missing RETURN b.id AS d",
]
# shapes the compiler answers, over the anchor's edges
_COMPILED_HOP_QUERIES = [
    _HOP + "WHERE r.similitud >= $lo RETURN DISTINCT r.similitud AS s",
    _HOP + "WHERE r.similitud >= $lo RETURN b.id AS d ORDER BY d LIMIT 2",
]


def _write_graph(tmp_path, graph) -> str:
    """A data directory whose nodes are ``graph["nodes"]`` (as doc ids)
    and whose embeddings are ``graph["vectors"]``."""
    data_dir = _write_documents(tmp_path, [(i, "auto", "el juez") for i in sorted(graph["nodes"])])
    vectors = graph["vectors"]
    pq.write_table(
        pa.table({
            "vec_id": pa.array(list(vectors), pa.int64()),
            "embedding": pa.array(list(vectors.values()), pa.list_(pa.float64())),
        }),
        f"{data_dir}/embeddings.parquet",
    )
    return data_dir


def _frame(df) -> tuple:
    """A frame's schema and its multiset of rows."""
    return df.schema, Counter(map(_hashable, df.collect()))


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(
    graph=_GRAPHS,
    anchors=st.lists(st.sampled_from(["P-0", "P-1", "P-2", "P-5", "P-7", "P-007", "zz"]), min_size=1, max_size=3),
    lo=_BOUNDS,
    hi=_BOUNDS,
)
@example(graph=_EVERY_KIND, anchors=["P-0", "P-2", "P-3"], lo=44.7214, hi=100)
@example(graph=_EVERY_KIND, anchors=["P-1", "P-4", "P-6"], lo=70.7107, hi=-100.0)
@example(graph={"vectors": {}, "nodes": set()}, anchors=["P-0", "zz"], lo=0, hi=100.0)
def test_the_cypher_hop_route_matches_the_compiled_query(spark, distributed, tmp_path, graph, anchors, lo, hi):
    data_dir = _write_graph(tmp_path, graph)

    def run():
        eng = ProvidenciasEngine(spark, data_dir)
        try:
            return [
                _outcome(lambda: _frame(eng.run_cypher(q, {"p": a, "lo": lo, "hi": hi})))
                for a in anchors
                for q in queries
            ]
        finally:
            eng.release()

    queries = _HOP_QUERIES + _COMPILED_HOP_QUERIES
    driver, spark_side = _both(distributed, run)
    for i, (a, b) in enumerate(zip(driver, spark_side)):
        assert a == b, (graph, anchors, lo, hi, queries[i % len(queries)], a, b)
    # at the default gate the route answers with a local frame, and only it
    eng = ProvidenciasEngine(spark, data_dir)
    params = {"p": anchors[0], "lo": lo, "hi": hi}
    assert all(isinstance(eng.run_cypher(q, params), LocalFrame) for q in _HOP_QUERIES[:-1])
    assert not any(isinstance(eng.run_cypher(q, params), LocalFrame) for q in _COMPILED_HOP_QUERIES)
    eng.release()


@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(graph=_GRAPHS, lo=_BOUNDS, hi=_BOUNDS)
@example(graph=_EVERY_KIND, lo=-100.0, hi=100)
@example(graph=_EVERY_KIND, lo=70.7107, hi=94.8683)
def test_neighborhood_graph_matches_the_catalyst_neighborhood(spark, distributed, tmp_path, graph, lo, hi):
    data_dir = _write_graph(tmp_path, graph)
    # every anchor kind: a vector with edges, a zero-norm, null or
    # null-holding vector, a vector that is no node, a node with no
    # vector, an id with a leading zero, and no id at all
    anchors = [f"P-{i}" for i in range(9)] + ["P-007", "zz", ""]

    def run():
        eng = ProvidenciasEngine(spark, data_dir)
        try:
            out = []
            for a in anchors:
                nodes, edges = eng.neighborhood_graph(a, lo, hi)
                out.append((
                    [r.id for r in nodes.collect()], _frame(edges),
                    _frame(eng.similarity_neighborhood(a, lo, hi)),
                ))
            return out
        finally:
            eng.release()

    driver, spark_side = _both(distributed, run)
    for a, x, y in zip(anchors, driver, spark_side):
        assert x == y, (graph, a, lo, hi, x, y)
