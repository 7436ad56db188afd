"""Inverted-index search (operators/postings.py): index-based results
must equal the corpus-scan path exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from providenciasbigdata_spark.compat.documents import rulings_view, search_text
from providenciasbigdata_spark.io import load_table
from providenciasbigdata_spark.operators.postings import (
    build_postings,
    search_and,
    search_or,
)

SF = "/root/testdata/sf0.001"


def _rulings(spark):
    return rulings_view(load_table(spark, SF, "documents"))


def test_or_search_equals_scan(spark):
    docs = _rulings(spark)
    idx = build_postings(docs)
    via_index = {r["doc_id"] for r in search_or(idx, ["merge", "window"]).collect()}
    via_scan = {r["doc_id"] for r in search_text(docs, "merge window").collect()}
    assert via_index == via_scan and via_index


def test_and_search_is_intersection_of_or_searches(spark):
    docs = _rulings(spark)
    idx = build_postings(docs)
    both = {r["doc_id"] for r in search_and(idx, ["merge", "window"]).collect()}
    only_a = {r["doc_id"] for r in search_or(idx, ["merge"]).collect()}
    only_b = {r["doc_id"] for r in search_or(idx, ["window"]).collect()}
    assert both == (only_a & only_b) and both


def test_and_duplicate_terms_collapse(spark):
    idx = build_postings(_rulings(spark))
    a = {r["doc_id"] for r in search_and(idx, ["merge", "merge"]).collect()}
    b = {r["doc_id"] for r in search_or(idx, ["merge"]).collect()}
    assert a == b


def test_max_df_drops_stopword_like_terms(spark):
    docs = _rulings(spark)
    full = build_postings(docs)
    pruned = build_postings(docs, max_df=0.5)
    n_docs = docs.count()
    kept_max = pruned.agg(F.max("df")).first()[0]
    assert kept_max <= n_docs * 0.5
    assert pruned.count() < full.count()


def test_postings_sorted_and_distinct(spark):
    idx = build_postings(_rulings(spark))
    bad = idx.where(
        (F.col("postings") != F.array_sort("postings"))
        | (F.size("postings") != F.size(F.array_distinct("postings")))
        | (F.size("postings") != F.col("df"))
    )
    assert bad.count() == 0


def test_bm25_ranks_rarer_terms_higher(spark):
    """A doc matching a rare term must outscore a doc with the same tf
    of a common term (idf monotonicity), and k bounds the result."""
    from providenciasbigdata_spark.operators.postings import (
        bm25_search,
        build_bm25_index,
    )

    idx = build_bm25_index(_rulings(spark))
    tfs = idx.term_freqs
    # pick a rare and a common token from the corpus itself
    freqs = (
        tfs.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy("df")
        .collect()
    )
    rare = freqs[0]["token"]
    common = freqs[-1]["token"]
    assert freqs[0]["df"] < freqs[-1]["df"]
    top = bm25_search(idx, [rare, common], k=5).collect()
    assert len(top) <= 5
    # the top hit must contain the rare term
    rare_docs = {r["doc_id"] for r in tfs.where(F.col("token") == rare).collect()}
    assert top[0]["doc_id"] in rare_docs


def test_bm25_index_zero_actions_per_query(spark):
    """Service posture: with a prebuilt BM25Index, composing a search
    must trigger NO driver actions (count/first/collect) — the stats
    were captured at build time (VERDICT r2 item 6)."""
    from providenciasbigdata_spark.operators.postings import (
        bm25_search,
        build_bm25_index,
    )

    docs = rulings_view(load_table(spark, SF, "documents"))
    idx = build_bm25_index(docs)
    cls = type(idx.term_freqs)
    banned = {}
    for name in ("count", "first", "collect", "toPandas", "head", "take"):
        banned[name] = getattr(cls, name)

        def _raise(self, *a, __n=name, **kw):
            raise AssertionError(f"driver action {__n} during bm25_search")

        setattr(cls, name, _raise)
    try:
        q = bm25_search(idx, ["merge", "window"], k=5)
    finally:
        for name, fn in banned.items():
            setattr(cls, name, fn)
    rows = q.collect()
    assert 0 < len(rows) <= 5


def test_bm25_and_search_degenerate_inputs(spark):
    """Empty term lists and an empty index return empty frames instead
    of failing analysis (ADVICE r2: F.array() with zero elements /
    float(None) avgdl)."""
    from providenciasbigdata_spark.operators.postings import (
        bm25_search,
        build_bm25_index,
        build_postings,
        search_and,
        search_or,
    )

    docs = rulings_view(load_table(spark, SF, "documents"))
    idx = build_bm25_index(docs)
    assert bm25_search(idx, []).collect() == []
    post = build_postings(docs)
    assert search_or(post, []).collect() == []
    assert search_and(post, []).collect() == []

    empty_docs = docs.filter(F.lit(False))
    empty_idx = build_bm25_index(empty_docs)
    assert empty_idx.n_docs == 0 and empty_idx.avgdl is None
    out = bm25_search(empty_idx, ["merge"])
    assert out.collect() == [] and out.columns == ["doc_id", "score"]


def test_search_fuzzy_expansion_contract(spark):
    """Typo within 1 edit sharing the first char matches; a first-char
    mismatch does NOT (the Lucene prefix contract); exact terms still
    match themselves; empty terms match nothing."""
    from providenciasbigdata_spark.operators.postings import build_postings, search_fuzzy

    docs = spark.createDataFrame(
        [(1, ["merge", "sort"]), (2, ["merged"]), (3, ["purge"]), (4, ["window"])],
        "doc_id long, tokens array<string>",
    )
    idx = build_postings(docs)
    hits = {r.doc_id for r in search_fuzzy(idx, ["merge"], max_edits=1).collect()}
    # 'merge' exact, 'merged' one edit; 'purge' is 2 edits AND fails the
    # first-char prefix; 'window' unrelated
    assert hits == {1, 2}
    assert search_fuzzy(idx, [], max_edits=1).count() == 0
    # max_edits=0 degenerates to exact lookup
    assert {r.doc_id for r in search_fuzzy(idx, ["merge"], max_edits=0).collect()} == {1}


def test_postings_append_equals_full_rebuild(spark):
    """Incremental index maintenance: resident index + new-batch merge
    must equal the from-scratch index over history ∪ batch, token for
    token, posting for posting."""
    from providenciasbigdata_spark.compat.documents import rulings_view
    from providenciasbigdata_spark.io import load_table
    from providenciasbigdata_spark.operators.postings import (
        build_postings,
        postings_append,
    )

    docs = rulings_view(load_table(spark, "/root/testdata/sf0.001", "documents"))
    old = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter(F.col("doc_id") >= 300)
    incremental = postings_append(build_postings(old), batch)
    rebuilt = build_postings(docs)
    mism = (
        incremental.alias("i")
        .join(rebuilt.alias("r"), "token", "full_outer")
        .filter(
            ~F.col("i.postings").eqNullSafe(F.col("r.postings"))
            | ~F.col("i.df").eqNullSafe(F.col("r.df"))
        )
        .count()
    )
    assert mism == 0
    assert incremental.count() == rebuilt.count() > 0


def test_positional_phrase_equals_scan_path(spark):
    """Index-based phrase search == the scan-time token-run path on
    every phrase shape: 2-term, 3-term, repeated-token, and a phrase
    crossing a stem boundary; empty/punctuation phrases match nothing."""
    from providenciasbigdata_spark.compat.documents import rulings_view, search_text
    from providenciasbigdata_spark.io import load_table
    from providenciasbigdata_spark.operators.postings import (
        build_positional_postings,
        search_phrase_indexed,
    )

    r = rulings_view(load_table(spark, "/root/testdata/sf0.001", "documents"))
    idx = build_positional_postings(r)
    for phrase in ("table hash", "the merge", "merge merge", "a b c"):
        scan = {
            x.doc_id
            for x in search_text(r, f'"{phrase}"').select("doc_id").collect()
        }
        ind = {x.doc_id for x in search_phrase_indexed(idx, phrase).collect()}
        assert ind == scan, phrase
    assert search_phrase_indexed(idx, "...").count() == 0
    # single-term phrase = plain containment
    one = {x.doc_id for x in search_phrase_indexed(idx, "merge").collect()}
    scan_one = {x.doc_id for x in search_text(r, '"merge"').select("doc_id").collect()}
    assert one == scan_one
