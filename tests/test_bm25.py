"""BM25 top-k on both sides of the index's size gate: a postings block
held on the driver and scored in numpy, and a persisted Spark table
scored by a plan. Both give the same rows: the score is Spark's own
round of the sum, and rows are ordered by score descending, then by
doc_id ascending."""

from __future__ import annotations

import contextlib
import math

import numpy as np
import pytest
from conftest import SF_ORACLE

from providenciasbigdata_spark.compat.documents import rulings_view
from providenciasbigdata_spark.io import load_table
from providenciasbigdata_spark.operators import postings
from providenciasbigdata_spark.operators.postings import bm25_search, build_bm25_index

_SCHEMA = "doc_id long, tokens array<string>"


@pytest.fixture(scope="module")
def sf_indexes(spark):
    """One sf0.01 index per side of the gate, shared by the module."""
    docs = rulings_view(load_table(spark, SF_ORACLE, "documents"))
    driver = build_bm25_index(docs)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(postings, "_DRIVER_MAX_ROWS", 0)
        table = build_bm25_index(docs)
    yield driver, table
    driver.release()
    table.release()


@pytest.fixture(params=["driver", "distributed"])
def side(request, distributed):
    """Builds an index from (doc_id, tokens) rows on one side of the gate."""
    force = contextlib.nullcontext if request.param == "driver" else distributed
    built = []

    def build(spark, rows):
        with force():
            idx = build_bm25_index(spark.createDataFrame(rows, _SCHEMA))
        assert (idx._postings is None) == (request.param == "distributed")
        built.append(idx)
        return idx

    yield build
    for idx in built:
        idx.release()


def _rows(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_driver_path_equals_spark_path_on_the_vocabulary(sf_indexes):
    driver, table = sf_indexes
    assert driver._postings is not None and table._postings is None
    assert (driver.n_docs, driver.avgdl) == (table.n_docs, table.avgdl)
    block = driver._postings
    vocab = sorted(block.terms)
    df = np.diff(block.offsets)[[block.terms[t] for t in vocab]]
    common = [t for t, n in zip(vocab, df) if n >= 50]
    rng = np.random.default_rng(7)
    for i in range(15):
        pool = common if i % 2 else vocab
        terms = [str(t) for t in rng.choice(pool, size=1 + i % 3)]
        k = (1, 3, 10, 50, 1000)[i % 5]
        got = bm25_search(driver, terms, k=k)
        rows = _rows(got)
        assert rows and rows == _rows(bm25_search(table, terms, k=k)), (terms, k)
        if k <= 10:  # no near-equal sums to settle here: a bare local relation
            assert got._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"


def test_equal_sums_are_ordered_by_doc_id(spark, side):
    # docs 3, 5, 7, 9 have the same tokens, so the same sum; doc 4 is
    # shorter and scores higher
    same = ["alpha", "beta", "beta"]
    idx = side(spark, [
        (9, same), (3, same), (7, same), (5, same), (4, ["alpha"]),
        (1, ["gamma", "beta"]), (2, ["gamma"]),
    ])
    rows = _rows(bm25_search(idx, ["alpha"], k=3))
    assert [d for d, _ in rows] == [4, 3, 5] and rows[0][1] > rows[1][1] == rows[2][1]
    assert [d for d, _ in _rows(bm25_search(idx, ["alpha"], k=10))] == [4, 3, 5, 7, 9]


def test_different_sums_that_round_alike_are_ordered_by_doc_id(spark, side):
    # with b tiny, a doc's length moves its sum by about 2e-8 per token:
    # the sums differ, the shorter doc's is larger, and all three round
    # to one 6-digit score, so the order is doc_id's, not the sums'
    b = 1e-7
    lengths = {20: 1, 10: 2, 5: 3}
    rows = [(d, ["x"] + ["pad"] * (n - 1)) for d, n in lengths.items()]
    rows += [(100 + i, ["pad", "pad"]) for i in range(4)]
    idx = side(spark, rows)
    avgdl = (sum(lengths.values()) + 2 * 4) / len(rows)
    idf = math.log((len(rows) - 3 + 0.5) / (3 + 0.5) + 1.0)
    sums = {d: idf * 2.2 / (1 + 1.2 * (1 - b + b * n / avgdl)) for d, n in lengths.items()}
    assert sums[20] > sums[10] > sums[5] and sums[20] - sums[5] < 1e-7
    got = _rows(bm25_search(idx, ["x"], k=2, b=b))
    assert [d for d, _ in got] == [5, 10] and got[0][1] == got[1][1]
    assert got[0][1] == round(sums[10], 6)
    assert [d for d, _ in _rows(bm25_search(idx, ["x"], k=5, b=b))] == [5, 10, 20]


def test_degenerate_queries(spark, side):
    idx = side(spark, [(1, ["merge", "sort"]), (2, ["merge"]), (3, ["window", "merge"])])
    for terms in ([], ["nope"], ["nope", "never"]):
        out = bm25_search(idx, terms)
        assert out.collect() == [] and out.columns == ["doc_id", "score"]
    # a repeated term counts once
    assert _rows(bm25_search(idx, ["merge", "merge", "sort"])) == _rows(
        bm25_search(idx, ["sort", "merge"])
    )
    # k beyond the matches returns every match
    assert [d for d, _ in _rows(bm25_search(idx, ["merge", "nope"], k=50))] == [2, 1, 3]
    assert [d for d, _ in _rows(bm25_search(idx, ["window", "sort"], k=50))] == [1, 3]
    empty = side(spark, [])
    assert empty.n_docs == 0 and empty.avgdl is None
    out = bm25_search(empty, ["merge"])
    assert out.collect() == [] and out.columns == ["doc_id", "score"]


def test_k_must_be_a_non_negative_integer(spark, side):
    idx = side(spark, [(1, ["merge", "sort"]), (2, ["merge"])])
    for k in (-1, None, 1.5, "3", True):
        with pytest.raises(ValueError, match="k must be a non-negative integer"):
            bm25_search(idx, ["merge"], k=k)
    out = bm25_search(idx, ["merge"], k=0)
    assert out.collect() == [] and out.columns == ["doc_id", "score"]
    assert [d for d, _ in _rows(bm25_search(idx, ["merge"], k=np.int64(1)))] == [2]
    assert dict(out.dtypes) == dict(bm25_search(idx, ["merge"]).dtypes) == {
        "doc_id": "bigint", "score": "double"
    }


def test_rows_agree_with_the_python_formula(spark, side):
    """The driver block reads tf and dl from the aggregate, N and avgdl
    from the block: check one small index against a hand computation."""
    idx = side(spark, [(1, ["a", "b", "a"]), (2, ["b"]), (3, ["c", "c"])])
    assert idx.n_docs == 3 and idx.avgdl == 2.0
    idf_a = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1.0)
    idf_b = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)

    def part(idf, tf, dl):
        return idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 2.0))

    got = dict(_rows(bm25_search(idx, ["a", "b"])))
    want = {1: part(idf_a, 2, 3) + part(idf_b, 1, 3), 2: part(idf_b, 1, 1)}
    assert got.keys() == want.keys()
    assert all(abs(got[d] - want[d]) <= 1e-6 for d in want)


def test_degenerate_rows_index_alike_on_both_sides(spark, distributed):
    """A null element is a token of its own; an empty list and null
    tokens put no doc in the index; a duplicated id merges its rows (tf
    sums, dl is the larger); a null id is not in the index and does not
    count in N."""
    docs = spark.createDataFrame([
        (1, ["a", None, "b", "a"]),
        (2, []),
        (3, None),
        (4, ["b", "c"]), (4, ["c", "d", "c"]),
        (None, ["a", "e"]),
        (5, ["e"]),
    ], _SCHEMA)
    driver = build_bm25_index(docs)
    with distributed():
        table = build_bm25_index(docs)
    assert driver._postings is not None and table._postings is None
    # keys (1,a) (1,null) (1,b) (4,b) (4,c) (4,d) (5,e): N counts the
    # four that hold a first token, avgdl is their 10 occurrences over N
    assert (driver.n_docs, driver.avgdl) == (table.n_docs, table.avgdl) == (4, 2.5)
    for terms in (["a"], ["b"], ["c"], ["d"], ["e"], ["a", "b", "c", "d", "e"]):
        got = _rows(bm25_search(driver, terms))
        assert got and got == _rows(bm25_search(table, terms)), terms
        assert None not in [d for d, _ in got]
    driver.release()
    table.release()


def test_driver_build_runs_one_job(spark, count_jobs):
    docs = rulings_view(load_table(spark, SF_ORACLE, "documents"))
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    idx, jobs = count_jobs(lambda: build_bm25_index(docs))
    assert idx._postings is not None and jobs == 1
    assert set(persisted().keys()) <= before  # nothing new is persisted
    idx.release()
