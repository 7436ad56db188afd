"""Inverted index (posting lists) for keyword search at corpus scale.

The reference's ``$text`` predicate leans on MongoDB's server-side text
index (SURVEY.md B1 — reference streamlit_app.py:147); our query-time
equivalent (`compat.documents.search_text`) scans the tokenized corpus.
That scan is the right plan for one-off queries, but a search SERVICE
over 100 TB wants the index materialized once and every query answered
from it:

- ``build_postings``: one explode + one hash aggregate -> (token,
  postings: sorted doc ids, df). The single shuffle-the-corpus moment;
  written bucketed by token, each later lookup touches one bucket.
- ``search_or`` / ``search_and``: OR = union of the matched terms'
  postings (explode + distinct); AND = posting intersection via
  count-of-terms (a doc qualifies when it appears under every term) —
  no corpus scan, the join is against the tiny matched-token slice.
- ``build_bm25_index`` / ``bm25_search``: Okapi BM25 top-k from a built
  ``BM25Index``. Up to ``_DRIVER_MAX_ROWS`` token occurrences the build
  collects the exploded tokens once (``session.collect_below``) and
  groups them with Arrow's hash aggregate into a numpy postings block
  on the driver, with no shuffle and no persist, and a search runs no
  Spark job and makes no gateway call: numpy sums the terms'
  contributions and rounds them as Spark's ``round`` does
  (``session.round_half_up``), and the top k come back as a local
  frame. Above the gate one shuffle groups the (doc, token) rows into
  a persisted Spark table and a search is a plan over it. Both paths
  share one expression for a term's contribution, and the idf of a
  driver block comes from Spark's ``log``, so each term's contribution
  agrees bit for bit; the
  rounded scores agree unless the Spark path adds three or more terms
  in an order that moves a sum's last bit across a rounding boundary.

Degenerate-key note: stop-word-like tokens produce postings arrays as
long as the corpus. The index is still correct — but at 100 TB those
rows should be chunked (split one token's postings across rows) or the
head terms dropped at build time; ``max_df`` implements the standard
drop (a term in more than max_df of all docs carries ~no selectivity).
"""

from __future__ import annotations

import numbers

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from providenciasbigdata_spark.session import (
    collect_below,
    local_frame,
    round_half_up,
    unpersist_on_collect,
)

_EMPTY_HITS_SCHEMA = "doc_id bigint"


def build_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    max_df: float | None = None,
) -> DataFrame:
    """Materialize the inverted index from a tokenized corpus.

    Output: (token, postings array<long> sorted, df bigint).
    ``max_df``: drop terms whose document frequency exceeds this
    fraction of the corpus (None keeps everything).
    """
    pairs = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens_col).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    postings = pairs.groupBy("token").agg(
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
        F.count("*").cast("bigint").alias("df"),
    )
    if max_df is not None:
        n_docs = docs.select(id_col).distinct().count()
        postings = postings.where(F.col("df") <= int(max_df * n_docs))
    return postings


def stem_postings(postings: DataFrame) -> DataFrame:
    """Derive a STEMMED inverted index from an existing one by stemming
    the dictionary: posting lists of tokens sharing a stem merge
    (union, sorted, distinct). Stemming runs once per DISTINCT token —
    vocabulary-sized work, through the Arrow stem UDF
    (compat.stemming.stem_col) — instead of once per token occurrence
    across the corpus; at 100 TB the vocabulary is millions of rows
    while the corpus is trillions of occurrences. No driver action: the
    result is a lazy frame.

    Output: (token=stem, postings, df) — same contract as
    ``build_postings``, consumable by every search function here.
    """
    from providenciasbigdata_spark.compat.stemming import stem_col

    return (
        postings.select(stem_col(F.col("token")).alias("token"), "postings")
        .groupBy("token")
        .agg(
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list("postings")))
            ).alias("postings")
        )
        .withColumn("df", F.size("postings").cast("bigint"))
    )


def _matched(postings: DataFrame, terms: list[str]) -> DataFrame:
    term_lit: Column = F.array(*[F.lit(t) for t in terms])
    return postings.where(F.array_contains(term_lit, F.col("token")))


def search_or(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Docs containing ANY term (the B1 OR-of-terms contract), from the
    index alone. Output: (doc_id). Empty term list matches nothing
    (an F.array() of zero elements would fail analysis)."""
    if not terms:
        return local_frame(postings.sparkSession, [], _EMPTY_HITS_SCHEMA)
    return (
        _matched(postings, terms)
        .select(F.explode("postings").alias("doc_id"))
        .distinct()
    )


def search_prefix(postings: DataFrame, prefix: str) -> DataFrame:
    """Docs containing any term starting with ``prefix`` (Lucene's
    PrefixQuery / Mongo's anchored ``^prefix`` regex): a DICTIONARY
    scan (`startswith` over the vocabulary — millions of rows at 100 TB,
    never the corpus) unions the matched posting lists. Empty prefix
    matches nothing (an unanchored wildcard would be a full corpus
    enumeration — raise the question to the caller instead of doing it
    silently). Output: (doc_id)."""
    from providenciasbigdata_spark.compat.documents import _fold

    p = _fold(prefix or "").strip()
    if not p:
        return local_frame(postings.sparkSession, [], _EMPTY_HITS_SCHEMA)
    return (
        postings.filter(F.col("token").startswith(p))
        .select(F.explode("postings").alias("doc_id"))
        .distinct()
    )


def search_and(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Docs containing ALL terms: posting intersection by term count.
    Output: (doc_id). Empty term list matches nothing."""
    if not terms:
        return local_frame(postings.sparkSession, [], _EMPTY_HITS_SCHEMA)
    n = len(set(terms))
    return (
        _matched(postings, list(set(terms)))
        .select("token", F.explode("postings").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.countDistinct("token").alias("nt"))
        .where(F.col("nt") == n)
        .select("doc_id")
    )


def search_fuzzy(
    postings: DataFrame,
    terms: list[str],
    max_edits: int = 1,
    prefix_len: int = 1,
) -> DataFrame:
    """Lucene-style fuzzy term search answered from the index alone:
    each query term expands to every DICTIONARY token within
    ``max_edits`` Levenshtein edits that shares its first
    ``prefix_len`` characters (part of the match contract, as in
    Lucene's FuzzyQuery prefix — and the equi-key that lets Catalyst
    hash-join the broadcast term list against the vocabulary instead
    of nested-looping it); matches are the union of the expanded
    terms' postings.

    Work is VOCABULARY-sized, never corpus-sized: the expansion scans
    the dictionary once (Spark's threshold-bounded levenshtein bails
    out early per pair), and docs come from index postings. Output:
    (doc_id), distinct.
    """
    if not terms:
        return local_frame(postings.sparkSession, [], _EMPTY_HITS_SCHEMA)
    q = local_frame(
        postings.sparkSession,
        [(t,) for t in sorted(set(terms))], "q string"
    )
    p = max(prefix_len, 0)
    matched = postings.join(
        F.broadcast(q),
        (F.substring("token", 1, p) == F.substring("q", 1, p))
        & (F.levenshtein(F.col("token"), F.col("q"), max_edits) >= 0),
    )
    return matched.select(F.explode("postings").alias("doc_id")).distinct()


# Most token occurrences (the exploded (doc_id, token) rows, one per
# token in a doc) a BM25 index builds into a numpy postings block on the
# driver; a larger corpus stays a persisted Spark table. 0 keeps every
# index in Spark.
_DRIVER_MAX_ROWS = 1_000_000


def _idf(n_docs: int, df):
    """Lucene's BM25 idf over a df column (always positive)."""
    return F.log((F.lit(float(n_docs)) - df + 0.5) / (df + 0.5) + 1.0)


def _term_score(idf, tf, dl, avgdl, k1: float, b: float):
    """One term's BM25 contribution to a doc. The same expression tree
    serves Spark columns and numpy arrays, so both paths do the same
    double arithmetic in the same order."""
    return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))


class _DriverPostings:
    """A BM25 index's rows held on the driver, grouped by token: token
    ``t`` with ``i = terms[t]`` owns rows ``offsets[i]:offsets[i + 1]`` of
    ``doc_id``, ``tf`` and ``dl``, and ``idf[i]`` is its idf as Spark's ``log``
    computes it (numpy's ``log`` differs in the last bit for about a
    third of the arguments)."""

    def __init__(self, spark: SparkSession, table: pa.Table):
        """``table``: one (doc_id, dl, pos, token) row per token
        occurrence, as collected with ``toArrow``. Arrow's hash
        aggregate groups it as the Spark aggregate does: a (doc, token)
        row's ``tf`` counts its occurrences and its ``dl`` is their
        largest, and N counts the rows that hold a doc's first token
        (duplicated doc ids included). Its buffers stay in Arrow's
        memory pool, where numpy temporaries would grow the heap."""
        rows = table.group_by(["doc_id", "token"], use_threads=False).aggregate(
            [("pos", "count"), ("dl", "max"), ("pos", "min")]
        )
        token = pc.dictionary_encode(rows["token"], null_encoding="encode").combine_chunks()
        code = token.indices.to_numpy()
        order = np.argsort(code, kind="stable")
        self.offsets = np.append(0, np.cumsum(np.bincount(code, minlength=len(token.dictionary))))
        self.terms = {t: i for i, t in enumerate(token.dictionary.to_pylist())}
        self.doc_id = rows["doc_id"].to_numpy()[order]
        self.tf = rows["pos_count"].to_numpy()[order]
        self.dl = rows["dl_max"].to_numpy()[order]
        self.n_docs = int(np.count_nonzero(rows["pos_min"].to_numpy() == 0))
        self.avgdl = int(self.tf.sum()) / self.n_docs if self.n_docs else None
        # one idf per distinct df, from a local relation (no Spark job)
        df = np.diff(self.offsets)
        dfs = np.unique(df)
        idfs = np.zeros(0)
        if len(dfs):
            local = local_frame(spark, pa.table({"df": pa.array(dfs, pa.int64())}))
            idfs = np.array([r[0] for r in local.select(_idf(self.n_docs, F.col("df"))).collect()])
        self.idf = idfs[np.searchsorted(dfs, df)]

    def top(self, spark, terms, k, k1, b, round_digits) -> DataFrame:
        """The top-k frame for sorted distinct ``terms``, k > 0."""
        docs, sums = [], []
        for t in terms:
            i = self.terms.get(t)
            if i is not None:
                rows = slice(self.offsets[i], self.offsets[i + 1])
                docs.append(self.doc_id[rows])
                sums.append(_term_score(self.idf[i], self.tf[rows], self.dl[rows], self.avgdl, k1, b))
        if not docs:
            return _scored(spark, [], [])
        ids, at = np.unique(np.concatenate(docs), return_inverse=True)
        score = np.zeros(len(ids))
        # each doc sums its terms in sorted-term order, from 0.0
        for at_term, sum_term in zip(np.split(at, np.cumsum([len(d) for d in docs])[:-1]), sums):
            score[at_term] += sum_term
        score = round_half_up(score, round_digits)
        order = np.lexsort((ids, -score))[:k]  # score descending, then doc_id
        return _scored(spark, ids[order], score[order])


def _scored(spark: SparkSession, ids, scores) -> DataFrame:
    """(doc_id, score) as a local frame, in the given row order."""
    return local_frame(
        spark,
        pa.table({"doc_id": pa.array(ids, pa.int64()), "score": pa.array(scores, pa.float64())}),
    )


class BM25Index:
    """Built ranked-retrieval data: one row per (doc_id, token) with the
    token's count in the doc (``tf``) and the doc's length (``dl``),
    plus the corpus scalars N and avgdl. A doc with a null id is not
    in the index; a repeated doc id merges its docs' rows (``tf`` sums,
    ``dl`` is the larger), alike on both sides of the gate.

    The build decides by size alone where the rows live: up to
    ``_DRIVER_MAX_ROWS`` token occurrences in a driver-side postings
    block, which a search scores in numpy; above that in ``term_freqs``
    persisted in Spark's cache (with each token's ``first_pos`` in the
    doc), which a search plans over. Either way a query never reads or
    tokenizes the corpus and runs no driver action (pinned in
    tests/test_postings.py).

    The block or the cache lives as long as the index: ``release()``
    frees it, and so does garbage collection. A released index still
    answers, and so do frames built from it, by recomputing from the
    corpus (``term_freqs`` is then its lazy plan)."""

    def __init__(
        self,
        term_freqs: DataFrame,
        n_docs: int,
        avgdl: float | None,
        postings: _DriverPostings | None = None,
    ):
        self.term_freqs = term_freqs
        self.n_docs = n_docs
        self.avgdl = avgdl
        self._postings = postings
        self._frames = {} if postings is not None else {"term_freqs": term_freqs}
        unpersist_on_collect(self, self._frames)

    def release(self) -> None:
        """Free the driver block or the cached table now."""
        self._postings = None
        for df in self._frames.values():
            df.unpersist()
        self._frames.clear()


def build_bm25_index(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> BM25Index:
    """Build the BM25 index from a tokenized corpus: a doc's terms are
    its tokens (``compat.documents.tokenize`` emits no empty ones), its
    length is their number, and a doc without tokens or without an id
    is not in the index.

    Up to ``_DRIVER_MAX_ROWS`` token occurrences, one
    ``session.collect_below`` decides the gate and collects the
    exploded (doc_id, dl, pos, token) rows, and Arrow's hash aggregate
    groups them into the driver block, with N and avgdl: one action, no
    shuffle and no persist. Above it, one shuffle groups the (doc,
    token) counts, the rows are persisted and the one stats action (N
    and the total length, one aggregate) fills the cache on its way."""
    occurrences = docs.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col).alias("dl"),
        F.posexplode(tokens_col).alias("pos", "token"),
    )
    term_freqs = occurrences.groupBy("doc_id", "token").agg(
        F.count("*").alias("tf"),
        F.max("dl").alias("dl"),
        F.min("pos").alias("first_pos"),
    )
    table = collect_below(occurrences, _DRIVER_MAX_ROWS)
    if table is not None:
        postings = _DriverPostings(docs.sparkSession, table)
        return BM25Index(term_freqs, postings.n_docs, postings.avgdl, postings)
    term_freqs = term_freqs.persist()
    # one row per doc holds the doc's first token, so N needs no
    # distinct pass over doc ids
    row = term_freqs.agg(
        F.count(F.when(F.col("first_pos") == 0, 1)).alias("n"), F.sum("tf").alias("total")
    ).first()
    n = int(row["n"])
    return BM25Index(term_freqs, n, row["total"] / n if n else None)


def bm25_search(
    index: BM25Index,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 6,
) -> DataFrame:
    """Okapi BM25 top-k over a prebuilt :class:`BM25Index` (zero driver
    actions here; build it with :func:`build_bm25_index`).

    score(d, q) = sum over query terms t of
        idf(t) * tf(t,d) * (k1+1) / (tf(t,d) + k1 * (1 - b + b*|d|/avgdl))
    with idf(t) = ln((N - df(t) + 0.5) / (df(t) + 0.5) + 1)  (Lucene form,
    always positive), rounded to ``round_digits`` by Spark's ``round``
    (HALF_UP). Rows come ordered by score descending, then doc_id
    ascending; ``k`` must be a non-negative integer (else ValueError).
    Empty term list, only unknown terms, ``k=0`` or an empty index =>
    empty (doc_id, score) frame.

    On a driver-held index the sums are numpy's, each doc's terms added
    in sorted-term order, rounded bit for bit as Spark's ``round`` rounds
    them (``session.round_half_up``), and ordered by rounded score and
    doc_id in numpy; the top k are one local frame, which makes no
    gateway call and runs no Spark job to collect. On a Spark-held
    index the plan filters the query terms' rows from the cached table,
    counts each term's rows (its df) over a window on that small slice,
    scores each row, sums per doc and keeps a TakeOrdered top-k
    (per-partition heaps, not a global sort).
    """
    if isinstance(k, bool) or not isinstance(k, numbers.Integral) or k < 0:
        raise ValueError(f"bm25_search: k must be a non-negative integer, got {k!r}")
    k = int(k)
    spark = index.term_freqs.sparkSession
    terms = sorted(set(terms))
    postings = index._postings
    if not terms or k == 0 or index.n_docs == 0 or index.avgdl is None:
        return _scored(spark, [], [])
    if postings is not None:
        return postings.top(spark, terms, k, k1, b, round_digits)
    term_lit = F.array(*[F.lit(t) for t in terms])
    matched = index.term_freqs.where(F.array_contains(term_lit, F.col("token"))).select(
        "doc_id", "tf", "dl", F.count("*").over(Window.partitionBy("token")).alias("df")
    )
    s = _term_score(_idf(index.n_docs, F.col("df")), F.col("tf"), F.col("dl"), index.avgdl, k1, b)
    scored = (
        matched.select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), round_digits).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def postings_append(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Incremental inverted-index maintenance — the postings sibling of
    ``ivf_index_append``/``dedup_exact_incremental``: tokenize and
    posting-ize ONLY the new batch, then merge per token (array concat
    + re-sort, df sums). Pinned EQUAL to a full rebuild over
    history ∪ batch in tests/test_postings.py.

    Contract: batch doc ids are NEW (an id present in the resident
    index would duplicate inside its postings array — re-ingest flows
    should route through ``snapshot_diff`` first and evict changed
    docs). The merge joins index ⋈ batch-postings on token: with the
    index stored bucketed by token the resident side never re-shuffles
    and the join cost is O(batch vocabulary), not O(index).
    """
    batch = build_postings(new_docs, id_col, tokens_col)
    o = index.select(
        "token", F.col("postings").alias("po"), F.col("df").alias("dfo")
    )
    n = batch.select(
        "token", F.col("postings").alias("pn"), F.col("df").alias("dfn")
    )
    return o.join(n, "token", "full_outer").select(
        "token",
        F.sort_array(
            F.concat(
                F.coalesce("po", F.array().cast("array<long>")),
                F.coalesce("pn", F.array().cast("array<long>")),
            )
        ).alias("postings"),
        (F.coalesce("dfo", F.lit(0)) + F.coalesce("dfn", F.lit(0)))
        .cast("bigint")
        .alias("df"),
    )


def build_positional_postings(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """POSITIONAL inverted index: one row per (token, doc) carrying the
    sorted in-document position list — the index that answers phrase
    queries without touching the corpus (Lucene's proximity data,
    flattened). Flat (token, doc) rows rather than one giant nested
    row per token: at 100 TB the flat layout bucket-partitions by
    token, joins without exploding, and never builds a single
    vocabulary-entry row bigger than a task."""
    pairs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_col).alias("pos", "token"),
    ).where(F.col("token") != "")
    return pairs.groupBy("token", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )


def search_phrase_indexed(
    positional: DataFrame, phrase: str
) -> DataFrame:
    """Phrase search FROM the positional index: a document matches when
    the phrase's tokens occupy consecutive positions. Each term's
    per-doc position list is shifted by its phrase offset
    (``p - i``); the intersection of the shifted lists is exactly the
    set of phrase START positions, so non-empty == match — the classic
    positional-merge, as array intersections instead of per-position
    loops.

    Plan: one index probe (``token IN phrase_terms`` — a pushed filter
    that prunes a token-bucketed index to the phrase's buckets), one
    equi-join chain on doc_id (k-1 joins for a k-term phrase, each
    side already keyed by doc), one JVM array_intersect fold. The
    corpus itself is never read. Pinned equal to the scan-time phrase
    path (compat.documents text_match_condition) in tests."""
    from providenciasbigdata_spark.compat.documents import _fold

    import re

    terms = [t for t in re.split(r"\W+", _fold(phrase)) if t]
    if not terms:
        return positional.select(F.col("doc_id")).where(F.lit(False))
    def shift_by(off: int):
        # NOTE: a two-parameter lambda (even with a default) makes
        # F.transform pass the ARRAY INDEX as the second argument —
        # bind the phrase offset through a closure instead
        return lambda p: p - F.lit(off)

    sides = []
    for i, t in enumerate(terms):
        sides.append(
            positional.filter(F.col("token") == t).select(
                "doc_id",
                F.transform("positions", shift_by(i)).alias(f"__p{i}"),
            )
        )
    joined = sides[0]
    for nxt in sides[1:]:
        joined = joined.join(nxt, "doc_id")
    starts = F.col("__p0")
    for i in range(1, len(terms)):
        starts = F.array_intersect(starts, F.col(f"__p{i}"))
    return joined.filter(F.size(starts) > 0).select("doc_id")
