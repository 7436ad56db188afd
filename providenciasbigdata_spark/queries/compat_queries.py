"""Oracle-checked queries for the reference-parity surface (SURVEY.md §2.2 A/B).

Every query here mirrors one reference operator over the pinned fixture
mapping (FIXTURES.md §1): providencia='P-'||doc_id, tipo=source,
anio=2000+doc_id%25, texto=text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from providenciasbigdata_spark.compat import (
    build_similarity_edges,
    distinct_values,
    list_nodes,
    neighborhood,
    nodes_view,
    query_cascade,
    rulings_view,
    search_text,
)
from providenciasbigdata_spark.compat.documents import search_text_ranked
from providenciasbigdata_spark.io import load_table

# ---- shared SQL fragments (oracle side) --------------------------------

# the pinned ruling projection, as DuckDB SQL
_RULINGS_SQL = (
    "SELECT doc_id, 'P-' || CAST(doc_id AS VARCHAR) AS providencia, "
    "source AS tipo, CAST(2000 + doc_id % 25 AS BIGINT) AS anio, text AS texto "
    "FROM documents"
)

# DuckDB twin of compat.documents.tokenize (B1 tokenization pin)
_TOKENS_SQL = (
    "list_filter(string_split_regex(strip_accents(lower({col})), '\\W+'), x -> x <> '')"
)

_RESULT_COLS = "providencia, tipo, anio, texto"


def _stemmed_search_sql() -> str:
    """Oracle for the stemmed A7: BOTH sides stem in SQL through the
    rule chain generated from compat.stemming's single rule table —
    document tokens element-wise, and the literal query terms — so the
    full stemming contract (not pre-stemmed literals) is checked."""
    from providenciasbigdata_spark.compat.stemming import stems_sql

    terms = "['values', 'merges']"
    return (
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) "
        f"WHERE len(list_intersect({stems_sql(_TOKENS_SQL.format(col='texto'))}, "
        f"{stems_sql(terms)})) > 0"
    )


def _stemmed_search_en_sql() -> str:
    """Oracle for the ENGLISH-stemmed A7 (verdict-r5 item 7): both the
    document tokens and the literal query terms stem through the
    English rule chain generated from the same table the engine uses."""
    from providenciasbigdata_spark.compat.stemming import stems_sql

    terms = "['merged', 'tables']"
    return (
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) "
        f"WHERE len(list_intersect("
        f"{stems_sql(_TOKENS_SQL.format(col='texto'), language='english')}, "
        f"{stems_sql(terms, language='english')})) > 0"
    )


def _rulings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rulings_view(load_table(spark, sf_dir, "documents"))


def _project(df: DataFrame) -> DataFrame:
    # A12: user-facing results never include the surrogate key / tokens
    return df.select("providencia", "tipo", F.col("anio").cast("long").alias("anio"), "texto")


# ---- A2: distinct facet values -----------------------------------------

def q_a2_distinct_tipo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinct_values(_rulings(spark, sf_dir), "tipo")


def q_a2_distinct_anio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinct_values(_rulings(spark, sf_dir), "anio").select(
        F.col("anio").cast("long").alias("anio")
    )


# ---- A4-A6: equality facets (via the A8 cascade, exercising dispatch) --

def q_a4_facet_providencia(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _project(query_cascade(_rulings(spark, sf_dir), providencia="P-42"))


def q_a5_facet_tipo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _project(query_cascade(_rulings(spark, sf_dir), tipo="src3"))


def q_a6_facet_anio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _project(query_cascade(_rulings(spark, sf_dir), anio="2003"))


def q_a8_cascade_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # providencia outranks tipo: the tipo value must be ignored (A8 quirk)
    return _project(query_cascade(_rulings(spark, sf_dir), providencia="P-10", tipo="src5"))


def q_a8_conjunctive_extension(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _project(
        query_cascade(_rulings(spark, sf_dir), tipo="src3", anio=2003, conjunctive=True)
    )


# ---- A7/B1: text search -------------------------------------------------

def q_a7_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _project(search_text(_rulings(spark, sf_dir), "MERGE window"))


def q_a7_search_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mongo $search grammar: the quoted phrase must appear as a token
    # run (bare terms only affect relevance once a phrase is present —
    # Mongo's phrase rule), 'error' must not appear
    return _project(search_text(_rulings(spark, sf_dir), 'merge window -error "the"'))


def q_a7_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo quoted-phrase search through the plain $text surface
    (text_match_condition handles the grammar): contiguous TOKEN
    SEQUENCE match — space-padded concat_ws makes substring equality
    equal token-run equality, so "table hash" cannot match
    "table hashing" or a doc with the words in other positions."""
    return _project(search_text(_rulings(spark, sf_dir), '"table hash"'))


def q_a7_search_phrase_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME phrase query answered from the POSITIONAL inverted
    index (S-depth: Lucene-style proximity data): shifted position-
    list intersections find consecutive runs without any corpus scan.
    Oracle: the independent scan-time token-run derivation."""
    from providenciasbigdata_spark.operators.postings import (
        build_positional_postings,
        search_phrase_indexed,
    )

    r = _rulings(spark, sf_dir)
    idx = build_positional_postings(r)
    hits = search_phrase_indexed(idx, "table hash")
    return r.join(hits, "doc_id", "left_semi").select("providencia")


_PHRASE_INDEXED_SQL = (
    f"SELECT 'P-' || CAST(doc_id AS VARCHAR) AS providencia FROM documents "
    f"WHERE contains(' ' || array_to_string({_TOKENS_SQL.format(col='text')}, ' ') || ' ', "
    f"' table hash ')"
)


def q_a7_search_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo -term negation through the plain $text surface: docs
    matching 'merge' minus any containing 'window'. A negation-only
    query matches nothing (Mongo contract, pinned in pytest)."""
    return _project(search_text(_rulings(spark, sf_dir), "merge -window"))


def q_a7_search_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search_text_ranked(
        _rulings(spark, sf_dir), "merge window shuffle", k=15
    ).select("providencia", "score")


def q_a7_search_ranked_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo-SHAPED tf-weighted relevance (round 7, verdict-r6 missing
    item 5): per matched term, 0.5·tf/len + 0.5 — the coefficient
    structure of Mongo's v2 text scorer (fts_spec.cpp), replacing the
    distinct-overlap pin when ``weighting="tf"``. Value-hash-safe
    doubles: contributions added in QUERY ORDER (chained, no unordered
    SUM); the oracle reproduces the identical parenthesization."""
    return search_text_ranked(
        _rulings(spark, sf_dir), "merge window shuffle", k=15, weighting="tf"
    ).select("providencia", "score")


_A7_RANKED_TF_SQL = """
WITH t AS (
  SELECT 'P-' || CAST(doc_id AS VARCHAR) AS providencia,
         {toks} AS toks
  FROM documents
), s AS (
  SELECT providencia,
         ((0.0
           + (CASE WHEN len(list_filter(toks, x -> x = 'merge')) > 0
              THEN 1.0 * (((0.5 * CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE))
                           / CAST(len(toks) AS DOUBLE)) + 0.5) ELSE 0.0 END))
           + (CASE WHEN len(list_filter(toks, x -> x = 'window')) > 0
              THEN 1.0 * (((0.5 * CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE))
                           / CAST(len(toks) AS DOUBLE)) + 0.5) ELSE 0.0 END))
           + (CASE WHEN len(list_filter(toks, x -> x = 'shuffle')) > 0
              THEN 1.0 * (((0.5 * CAST(len(list_filter(toks, x -> x = 'shuffle')) AS DOUBLE))
                           / CAST(len(toks) AS DOUBLE)) + 0.5) ELSE 0.0 END) AS score
  FROM t
)
SELECT providencia, score FROM s WHERE score > 0
ORDER BY score DESC, providencia ASC LIMIT 15
"""


def q_a7_search_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 + the Spanish-stemmed matching of Mongo's language text index
    (reference streamlit_app.py:147): plural/derived query terms match
    base document tokens through the shared FULL Snowball algorithm
    (compat.snowball, round 7) — "values merges" finds documents
    containing "value" or "merge". Dictionary expansion: one
    vocabulary job at query build stems the distinct tokens through
    the Arrow stem UDF and replaces each query stem by its corpus
    preimages, so the scan plan is the unstemmed one — one scan with
    a token-overlap predicate, no join, no exchange (plan-pinned). The
    index form is a7_search_postings_stemmed."""
    return _project(search_text(_rulings(spark, sf_dir), "values merges", stem=True))


def q_a7_search_stemmed_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 stemmed through the ENGLISH rule table (verdict-r5 item 7) —
    Mongo's default text-index language. Routed via the $text IR form
    ``{"$language": "english"}`` so the language OPTION plumbing is on
    the tested path, not just the search_text kwarg; "merged tables"
    matches "merge/merging/merges" and "table/tables" documents via
    exact query-side preimage expansion (plain token-overlap scan)."""
    from providenciasbigdata_spark.compat.ir import mql_find

    return _project(
        mql_find(
            _rulings(spark, sf_dir),
            {"$text": {"$search": "merged tables", "$language": "english"}},
        )
    )


# ---- A11+/IR: widened MQL subset (compat.ir) ----------------------------

def q_mql_in_tipo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$in membership — one step beyond the reference's observed MQL
    grammar (compat.ir); compiles to an isin pushed to the scan."""
    from providenciasbigdata_spark.compat.ir import mql_find

    return _project(mql_find(_rulings(spark, sf_dir), {"tipo": {"$in": ["src1", "src3"]}}))


def q_mql_range_anio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range operator document {$gte,$lt} AND-composed (compat.ir),
    with the anio dynamic-type coercion pin (string operands)."""
    from providenciasbigdata_spark.compat.ir import mql_find

    return _project(
        mql_find(_rulings(spark, sf_dir), {"anio": {"$gte": "2005", "$lt": 2008}})
    )


def q_mql_or_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit $or clause list with $text composed inside — the whole
    document compiles to ONE Column predicate, single filter."""
    from providenciasbigdata_spark.compat.ir import mql_find

    return _project(
        mql_find(
            _rulings(spark, sf_dir),
            {"$or": [{"$text": {"$search": "merge"}}, {"tipo": "src1"}]},
        )
    )


def q_mql_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$regex (unanchored partial match, Mongo contract == Spark rlike)
    with the case-insensitive option — the prefix-match shape a ruling
    lookup uses ('P-1' followed by one digit at end of id)."""
    from providenciasbigdata_spark.compat.ir import mql_find

    return _project(
        mql_find(
            _rulings(spark, sf_dir),
            {"providencia": {"$regex": "^p-1[0-9]$", "$options": "i"}},
        )
    )


_MQL_REGEX_SQL = (
    f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) "
    f"WHERE regexp_matches(providencia, '^p-1[0-9]$', 'i')"
)

_MQL_IN_SQL = (
    f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) WHERE tipo IN ('src1', 'src3')"
)
_MQL_RANGE_SQL = (
    f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) WHERE anio >= 2005 AND anio < 2008"
)
_MQL_OR_TEXT_SQL = (
    f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) "
    f"WHERE len(list_intersect({_TOKENS_SQL.format(col='texto')}, ['merge'])) > 0 "
    f"OR tipo = 'src1'"
)


def q_mql_array_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo ARRAY operators over the tokens column (compat.ir):
    ``$all`` (contains every listed value) AND-composed with an
    ``$elemMatch`` range on element values — both compile to JVM
    higher-order array predicates (array_contains / exists), single
    scan, no explode."""
    from providenciasbigdata_spark.compat.ir import mql_find

    return _project(
        mql_find(
            _rulings(spark, sf_dir),
            {
                "tokens": {
                    "$all": ["merge", "window"],
                    "$elemMatch": {"$gte": "zz"},
                },
                "anio": {"$gte": 2010},
            },
        )
    )


_MQL_ARRAY_SQL = (
    f"SELECT {_RESULT_COLS} FROM ("
    f"SELECT *, {_TOKENS_SQL.format(col='texto')} AS toks FROM ({_RULINGS_SQL})) "
    f"WHERE list_has_all(toks, ['merge', 'window']) "
    f"AND len(list_filter(toks, x -> x >= 'zz')) > 0 "
    f"AND anio >= 2010"
)


def q_mql_nin_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negation operators ($nin / $not-wrapped range / $exists) AND-
    composed in one filter document (compat.ir). Mongo's missing-field
    semantics — $nin and $not also match null — are encoded in the
    compiled predicate; the oracle mirrors the same NULL-aware form."""
    from providenciasbigdata_spark.compat.ir import mql_find

    return _project(
        mql_find(
            _rulings(spark, sf_dir),
            {
                "tipo": {"$nin": ["src1", "src2"]},
                "anio": {"$not": {"$lt": 2010}},
                "texto": {"$exists": True},
            },
        )
    )


_MQL_NIN_NOT_SQL = (
    f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) "
    f"WHERE (tipo IS NULL OR tipo NOT IN ('src1', 'src2')) "
    f"AND (anio IS NULL OR NOT (anio < 2010)) "
    f"AND texto IS NOT NULL"
)


def q_mql_cursor_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pymongo cursor chain find(q, projection).sort(...).limit(n):
    projection prunes to the scan's ReadSchema, sort+limit lowers to
    TakeOrdered (per-partition heaps, no global sort). Sort keys
    (anio desc, providencia asc) form a total order — providencia is
    unique — so the 12-row head is deterministic and oracle-hashable."""
    from providenciasbigdata_spark.compat.ir import mql_find

    found = mql_find(
        _rulings(spark, sf_dir),
        {"tipo": "src3"},
        projection={"providencia": 1, "anio": 1},
        sort=[("anio", -1), ("providencia", 1)],
        limit=12,
    )
    return found.select("providencia", F.col("anio").cast("long").alias("anio"))


_MQL_CURSOR_SQL = (
    f"SELECT providencia, anio FROM ({_RULINGS_SQL}) WHERE tipo = 'src3' "
    f"ORDER BY anio DESC, providencia ASC LIMIT 12"
)


def q_a7_search_postings_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7's OR-of-terms contract answered from a materialized inverted
    index (operators/postings.py) instead of a corpus scan — the B1
    semantics at search-service scale. Result set must equal the scan
    path exactly (same oracle as a7_text_search, ids only)."""
    from providenciasbigdata_spark.operators.postings import build_postings, search_or

    idx = build_postings(_rulings(spark, sf_dir))
    return search_or(idx, ["merge", "window"]).orderBy("doc_id")


def q_a7_search_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix search from the inverted index (Lucene PrefixQuery):
    dictionary startswith scan (vocabulary-sized work) unioning the
    matched posting lists — 'merg*' finds merge/merged/merging docs
    without any corpus scan."""
    from providenciasbigdata_spark.operators.postings import (
        build_postings,
        search_prefix,
    )

    idx = build_postings(_rulings(spark, sf_dir))
    return search_prefix(idx, "merg").orderBy("doc_id")


_PREFIX_SQL = (
    f"SELECT DISTINCT doc_id FROM ("
    f"SELECT doc_id, unnest({_TOKENS_SQL.format(col='text')}) AS token FROM documents"
    f") WHERE token LIKE 'merg%' ORDER BY doc_id"
)


def q_a7_search_postings_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stemmed search answered from a STEMMED inverted index, derived
    by stemming the DICTIONARY of the token index (the Arrow stem UDF
    runs once per distinct token, not per corpus occurrence; posting
    lists of tokens sharing a stem merge) — the service-scale form of
    a7_search_stemmed, zero corpus scan at query time. Result must
    equal the stemmed scan path exactly (same oracle, ids only)."""
    from providenciasbigdata_spark.compat.stemming import stem_py
    from providenciasbigdata_spark.operators.postings import (
        build_postings,
        search_or,
        stem_postings,
    )

    idx = stem_postings(build_postings(_rulings(spark, sf_dir)))
    terms = [stem_py(t) for t in ("values", "merges")]
    return search_or(idx, terms).orderBy("doc_id")


def q_a7_search_postings_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (ALL-terms) search via posting intersection — the
    extension MongoDB expresses with quoted phrases-as-AND; ours is a
    count-of-terms intersection over the index."""
    from providenciasbigdata_spark.operators.postings import build_postings, search_and

    idx = build_postings(_rulings(spark, sf_dir))
    return search_and(idx, ["merge", "window", "shuffle"]).orderBy("doc_id")


def _stemmed_postings_sql() -> str:
    from providenciasbigdata_spark.compat.stemming import stems_sql

    terms = "['values', 'merges']"
    return (
        f"SELECT doc_id FROM ({_RULINGS_SQL}) "
        f"WHERE len(list_intersect({stems_sql(_TOKENS_SQL.format(col='texto'))}, "
        f"{stems_sql(terms)})) > 0"
    )


_POSTINGS_OR_SQL = (
    f"SELECT doc_id FROM ({_RULINGS_SQL}) "
    f"WHERE len(list_intersect({_TOKENS_SQL.format(col='texto')}, "
    f"['merge', 'window'])) > 0"
)

def q_a7_search_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy $text extension: misspelled query terms ('mergee',
    'windw') expand against the index DICTIONARY to every token within
    1 Levenshtein edit sharing the first character (the Lucene
    FuzzyQuery contract), then match via posting union — typo-tolerant
    search with vocabulary-sized expansion work and zero corpus scan."""
    from providenciasbigdata_spark.operators.postings import build_postings, search_fuzzy

    idx = build_postings(_rulings(spark, sf_dir))
    return search_fuzzy(idx, ["mergee", "windw"], max_edits=1).orderBy("doc_id")


_FUZZY_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL.format(col='text')} AS t FROM documents
), dict AS (
  SELECT DISTINCT unnest(t) AS token FROM toks
), q(term) AS (VALUES ('mergee'), ('windw')),
expanded AS (
  SELECT DISTINCT token FROM dict JOIN q
    ON substr(token, 1, 1) = substr(term, 1, 1)
   AND levenshtein(token, term) <= 1
)
SELECT DISTINCT doc_id
FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
WHERE tok IN (SELECT token FROM expanded)
"""


_POSTINGS_AND_SQL = (
    f"SELECT doc_id FROM ({_RULINGS_SQL}) WHERE "
    f"len(list_intersect({_TOKENS_SQL.format(col='texto')}, ['merge'])) > 0 AND "
    f"len(list_intersect({_TOKENS_SQL.format(col='texto')}, ['window'])) > 0 AND "
    f"len(list_intersect({_TOKENS_SQL.format(col='texto')}, ['shuffle'])) > 0"
)


def q_a7_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval over the term-frequency index — the
    full-strength version of B6's relevance extension (the reference's
    $text returns matches unranked; a search service over the same
    collection wants ranked top-k). Scoring runs entirely from the
    prebuilt index (BM25Index captures N/avgdl at build — zero driver
    actions per search). At fixture scale the index is a driver-side
    postings block, and the result is a local relation of the top 10
    that the release below leaves intact; above the index's size gate
    the result is a plan over the index's cached table, which the
    release frees, so the plan recomputes the index through its
    lineage."""
    from providenciasbigdata_spark.operators.postings import (
        bm25_search,
        build_bm25_index,
    )

    idx = build_bm25_index(_rulings(spark, sf_dir))
    out = bm25_search(idx, ["merge", "window", "shuffle"], k=10)
    idx.release()
    return out


# DuckDB twin of the exact BM25 formula (k1=1.2, b=0.75, Lucene idf).
# Arithmetic written with the same association order as the Spark
# expression so the doubles agree bit-for-bit before the round.
_BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL.format(col='text')} AS t FROM documents
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
  WHERE token <> '' GROUP BY doc_id, token
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl
), dfs AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df
  FROM tf WHERE token IN ('merge', 'window', 'shuffle') GROUP BY token
), scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           ln((stats.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
         ), 6) AS score
  FROM tf
  JOIN dfs USING (token)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
"""


# ---- A9/A10: graph ------------------------------------------------------

def q_a9_list_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return list_nodes(nodes_view(load_table(spark, sf_dir, "documents")))


def q_a10_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb, anchor_vec_id=7)
    return neighborhood(edges, "P-7", 0.0, 100.0)


# the verbatim var-length template (compat.ir extension beyond the
# reference's two observed Cypher shapes)
CYPHER_VARLEN = """
MATCH (a:Providencia {id: $origen})-[rs:SIMILAR*1..3]->(b:Providencia)
WHERE all(x IN rs WHERE x.similitud >= $lo AND x.similitud <= $hi)
RETURN a.id AS origen, b.id AS destino, length(rs) AS saltos
"""


def q_cypher_varlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length anchored expansion executed from the LITERAL
    Cypher template through compat.ir (param binding included):
    endpoints within 1..3 SIMILAR hops of P-7 where every traversed
    edge's similitud is in [30, 100], each at its minimum hop count.
    Engine side is a frontier BFS (one equi-join per level); oracle is
    a recursive path CTE collapsed by MIN(hop)."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb)
    return cypher_run(
        CYPHER_VARLEN, edges=edges,
        params={"origen": "P-7", "lo": 30.0, "hi": 100.0},
    )


_CYPHER_VARLEN_SQL = """
WITH RECURSIVE e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) * 100, 4)
        BETWEEN 30 AND 100
), reach(dst, hop) AS (
  SELECT dst, 1 FROM e WHERE src = 'P-7'
  UNION ALL
  SELECT e.dst, r.hop + 1 FROM reach r JOIN e ON e.src = r.dst WHERE r.hop < 3
)
SELECT 'P-7' AS origen, dst AS destino, CAST(MIN(hop) AS BIGINT) AS saltos
FROM reach WHERE dst <> 'P-7' GROUP BY dst
"""


CYPHER_SHORTEST = """
MATCH p = shortestPath((a:Providencia {id: $origen})-[:SIMILAR*]-(b:Providencia {id: $destino}))
WHERE all(x IN relationships(p) WHERE x.similitud >= $lo AND x.similitud <= $hi)
RETURN length(p) AS saltos
"""


def q_cypher_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shortestPath between two bound anchors, from the LITERAL Cypher
    template through compat.ir (template 7): frontier BFS over the
    weight-filtered undirected similarity graph, one row with the
    relationship count (or none if unreachable). The oracle is a
    cycle-safe min-hop recursive CTE with the same 30-hop cap; the
    cosine edge set is symmetric, so its directed recursion IS the
    undirected traversal."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb)
    return cypher_run(
        CYPHER_SHORTEST, edges=edges,
        params={"origen": "P-7", "destino": "P-259", "lo": 30.0, "hi": 100.0},
    )


_CYPHER_SHORTEST_SQL = """
WITH RECURSIVE e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) * 100, 4)
        BETWEEN 30 AND 100
), reach(id, hop) AS (
  SELECT 'P-7', 0
  UNION
  SELECT e.dst, r.hop + 1 FROM reach r JOIN e ON e.src = r.id WHERE r.hop < 30
)
SELECT CAST(MIN(hop) AS BIGINT) AS saltos
FROM reach WHERE id = 'P-259' GROUP BY id
"""


CYPHER_ALL_SHORTEST = """
MATCH p = allShortestPaths((a:Providencia {id: $origen})-[:SIMILAR*..9]-(b:Providencia {id: $destino}))
WHERE all(x IN relationships(p) WHERE x.similitud >= $lo AND x.similitud <= $hi)
RETURN length(p) AS saltos
"""


def q_cypher_all_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """allShortestPaths (round 8, verdict-r7 item 5): Neo4j returns one
    row PER shortest path between the anchors; the engine computes the
    path COUNT with Brandes' forward sigma pass (one frontier join +
    grouped SUM per BFS level, early exit at the target's level —
    operators.graph_algos.shortest_path_sigma) instead of enumerating
    paths. The oracle enumerates bounded walks in a recursive CTE and
    counts those at the minimum depth — shortest paths cannot revisit a
    node, so walk counting and path counting agree at the minimum. The
    bounded-150 staged fixture at lo=28 gives a sparse graph where the
    chosen pair is 8 hops apart with 3 distinct shortest paths."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 150)
    return cypher_run(
        CYPHER_ALL_SHORTEST, edges=edges,
        params={"origen": "P-104", "destino": "P-1", "lo": 28.0, "hi": 100.0},
    )


_CYPHER_ALL_SHORTEST_SQL = """
WITH RECURSIVE e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 150 AND b.vec_id < 150
    AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) * 100, 4)
        BETWEEN 28 AND 100
), walk(node, depth) AS (
  SELECT 'P-104', 0
  UNION ALL
  SELECT e.dst, w.depth + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.depth < 9
), t AS (
  SELECT MIN(depth) AS d FROM walk WHERE node = 'P-1'
)
SELECT CAST(w.depth AS BIGINT) AS saltos
FROM walk w, t WHERE w.node = 'P-1' AND w.depth = t.d
"""


CYPHER_CHEAPEST = """
MATCH p = cheapestPath((a:Providencia {id: $origen})-[:SIMILAR*..10]-(b:Providencia {id: $destino}))
WHERE all(x IN relationships(p) WHERE x.similitud >= $lo AND x.similitud <= $hi)
RETURN cost(p) AS costo
"""


def q_cypher_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest path on the Cypher surface (round 8,
    verdict-r7 item 5): ``cheapestPath`` is the documented GDS-Dijkstra
    stand-in (core Cypher has no weighted shortest path) — edge cost =
    100 - similitud, hop-bounded at the pattern's ``*..10`` (Bellman-
    Ford rounds: after h rounds the cost is the minimum over <= h-hop
    paths, the well-defined objective on cyclic graphs). Min-then-
    extend equals the oracle's enumerate-then-min bit-for-bit because
    IEEE addition is monotonic (the sssp_distances FP note); rounded to
    6 digits for the hash anyway."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 150)
    out = cypher_run(
        CYPHER_CHEAPEST, edges=edges,
        params={"origen": "P-104", "destino": "P-1", "lo": 28.0, "hi": 100.0},
    )
    return out.select(F.round("costo", 6).alias("costo"))


_CYPHER_CHEAPEST_SQL = """
WITH RECURSIVE e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         100.0 - ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                              CAST(b.embedding AS DOUBLE[])) * 100, 4) AS w
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 150 AND b.vec_id < 150
    AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) * 100, 4)
        BETWEEN 28 AND 100
), walk(node, cost, depth) AS (
  SELECT 'P-104', CAST(0.0 AS DOUBLE), 0
  UNION ALL
  SELECT e.dst, w.cost + e.w, w.depth + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.depth < 10
)
SELECT ROUND(MIN(cost), 6) AS costo FROM walk WHERE node = 'P-1' GROUP BY node
"""


def q_mql_agg_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collection.aggregate facet counting — the pipeline a Mongo user
    ships instead of the reference's client-side option lists: one
    $group with count + avg accumulators, $sort by key. Compiles to a
    single hash aggregate with map-side partials."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$group": {"_id": "$tipo", "n": {"$sum": 1}, "avg_anio": {"$avg": "$anio"}}},
            {"$sort": {"_id": 1}},
        ],
    )
    return out.select("_id", "n", F.round("avg_anio", 6).alias("avg_anio"))


_MQL_AGG_FACET_SQL = (
    f"SELECT tipo AS _id, CAST(COUNT(*) AS BIGINT) AS n, "
    f"ROUND(AVG(anio), 6) AS avg_anio "
    f"FROM ({_RULINGS_SQL}) GROUP BY tipo"
)


def q_mql_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collection.countDocuments(filter) — filter + one COUNT; the
    pymongo count surface over the compiled find() grammar."""
    from providenciasbigdata_spark.compat.ir import mql_count_documents

    return mql_count_documents(
        _rulings(spark, sf_dir),
        {"anio": {"$gte": 2005, "$lt": 2015}, "tipo": {"$nin": ["src2"]}},
    )


_MQL_COUNT_SQL = (
    f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ({_RULINGS_SQL}) "
    f"WHERE anio >= 2005 AND anio < 2015 AND (tipo IS NULL OR tipo NOT IN ('src2'))"
)


def q_mql_agg_sort_by_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$sortByCount — Mongo's one-stage facet ranking (group + count +
    desc sort). Ties get an ``_id`` ascending tie-break for an
    engine-reproducible total order (Mongo leaves ties unordered)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    return mql_aggregate(_rulings(spark, sf_dir), [{"$sortByCount": "$tipo"}])


_MQL_SORT_BY_COUNT_SQL = (
    f"SELECT tipo AS _id, CAST(COUNT(*) AS BIGINT) AS count "
    f"FROM ({_RULINGS_SQL}) GROUP BY tipo ORDER BY count DESC, _id ASC"
)


def q_mql_agg_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$lookup (Mongo's join): post-2010 rulings enriched with a
    per-tipo stats collection; 'src1' is deliberately absent from the
    foreign side, so its rulings carry the EMPTY-ARRAY no-match
    contract (n_matches 0, NULL stat) rather than disappearing. Plan:
    the foreign side pre-groups into one array row per key, then a
    left equi-join — no match explosion."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    r = _rulings(spark, sf_dir)
    stats = (
        r.filter(F.col("tipo") != "src1")
        .groupBy("tipo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    out = mql_aggregate(
        r,
        [
            {"$match": {"anio": {"$gte": 2010}}},
            {"$lookup": {"from": "tipo_stats", "localField": "tipo",
                         "foreignField": "tipo", "as": "stats"}},
        ],
        collections={"tipo_stats": stats},
    )
    return out.select(
        "providencia",
        "tipo",
        F.size("stats").cast("long").alias("n_matches"),
        F.try_element_at("stats", F.lit(1))["n_docs"].cast("long").alias("tipo_n_docs"),
    )


_MQL_LOOKUP_SQL = f"""
WITH r AS ({_RULINGS_SQL}),
s AS (SELECT tipo, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM r WHERE tipo <> 'src1' GROUP BY tipo)
SELECT r.providencia, r.tipo,
       CAST(CASE WHEN s.tipo IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_matches,
       CAST(s.n_docs AS BIGINT) AS tipo_n_docs
FROM r LEFT JOIN s ON s.tipo = r.tipo
WHERE r.anio >= 2010
"""


def q_mql_bucket_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$bucketAuto over anio, 4 near-equal-population buckets: the
    equi-depth sibling of mql_agg_bucket's explicit boundaries. Unit
    of assignment is the distinct value (equal years never split);
    ranks come from the two-phase distributed prefix sum, never a
    global data window; bounds follow Mongo (max = next min, last
    inclusive). The oracle replays the same rank/assignment formula
    with plain window SQL."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [{"$bucketAuto": {"groupBy": "$anio", "buckets": 4}}],
    )
    return out.select(
        F.col("min_value").cast("bigint").alias("min_value"),
        F.col("max_value").cast("bigint").alias("max_value"),
        F.col("count").cast("bigint").alias("count"),
    )


_MQL_BUCKET_AUTO_SQL = f"""
WITH r AS ({_RULINGS_SQL}),
vals AS (SELECT anio AS v, COUNT(*) AS cnt FROM r GROUP BY anio),
ranked AS (
  SELECT v, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         (SELECT SUM(cnt) FROM vals) AS total
  FROM vals),
agged AS (
  SELECT (cb * 4) // total AS bucket,
         MIN(v) AS min_value, MAX(v) AS vmax,
         CAST(SUM(cnt) AS BIGINT) AS count
  FROM ranked GROUP BY 1)
SELECT CAST(min_value AS BIGINT) AS min_value,
       CAST(COALESCE(LEAD(min_value) OVER (ORDER BY bucket),
                     (SELECT MAX(vmax) FROM agged)) AS BIGINT) AS max_value,
       count
FROM agged ORDER BY min_value
"""


def q_mql_bucket_auto_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$bucketAuto with POWERSOF2 granularity (round 9, verdict-r8
    item 8): equal-population splits over doc_id are ROUNDED to the
    power-of-two series — first bound rounded down, splits rounded up,
    final bound the smallest power strictly above the max — and the
    documents re-bucket by the rounded bounds, giving Mongo's
    documented unequal counts. Rounding touches only the <= 5 boundary
    values on the driver (compat/ir.py::_granularity_round); the
    oracle replays bound derivation with LOG2/POWER window SQL."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [{"$bucketAuto": {
            "groupBy": "$doc_id", "buckets": 4, "granularity": "POWERSOF2",
        }}],
    )
    return out.select(
        "min_value", "max_value", F.col("count").cast("bigint").alias("count")
    )


_MQL_BUCKET_AUTO_GRAN_SQL = f"""
WITH r AS ({_RULINGS_SQL}),
vals AS (SELECT CAST(doc_id AS DOUBLE) AS v, COUNT(*) AS cnt FROM r GROUP BY 1),
ranked AS (
  SELECT v, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         (SELECT SUM(cnt) FROM vals) AS total
  FROM vals),
splits AS (
  SELECT (cb * 4) // total AS bucket, MIN(v) AS s
  FROM ranked GROUP BY 1),
lo0 AS (
  SELECT CASE WHEN s = 0 THEN 0.0 ELSE POWER(2, FLOOR(LOG2(s))) END AS b
  FROM splits WHERE bucket = (SELECT MIN(bucket) FROM splits)),
topb AS (
  SELECT CASE WHEN m = 0 THEN 1.0
              WHEN POWER(2, CEIL(LOG2(m))) > m THEN POWER(2, CEIL(LOG2(m)))
              ELSE POWER(2, CEIL(LOG2(m)) + 1) END AS b
  FROM (SELECT MAX(v) AS m FROM vals)),
bounds AS (
  SELECT b FROM lo0
  UNION
  SELECT CASE WHEN s = 0 THEN 0.0 ELSE POWER(2, CEIL(LOG2(s))) END AS b
  FROM splits
  WHERE bucket > (SELECT MIN(bucket) FROM splits)
    AND (CASE WHEN s = 0 THEN 0.0 ELSE POWER(2, CEIL(LOG2(s))) END)
        > (SELECT b FROM lo0)
    AND (CASE WHEN s = 0 THEN 0.0 ELSE POWER(2, CEIL(LOG2(s))) END)
        < (SELECT b FROM topb)
  UNION
  SELECT b FROM topb),
bs AS (SELECT b AS lo, LEAD(b) OVER (ORDER BY b) AS hi FROM bounds)
SELECT bs.lo AS min_value, bs.hi AS max_value,
       CAST(SUM(vals.cnt) AS BIGINT) AS count
FROM bs JOIN vals ON vals.v >= bs.lo AND vals.v < bs.hi
GROUP BY bs.lo, bs.hi ORDER BY bs.lo
"""


def q_mql_bucket_auto_e24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$bucketAuto with IEC 60063 E-series granularity (round 12,
    verdict-r11 residue — the last granularity family): equal-
    population doc_id splits rounded to the E24 preferred numbers
    (legacy table, NOT formulaic: 2.7/3.3/3.9/4.7... predate the
    geometric rule). Same bound derivation as the POWERSOF2 sibling
    (down / up / strict-up, compat/ir.py::_granularity_round); the
    oracle replays the mantissa rounding with an E24 VALUES table and
    the engine's decade-normalization compensation."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [{"$bucketAuto": {
            "groupBy": "$doc_id", "buckets": 5, "granularity": "E24",
        }}],
    )
    return out.select(
        "min_value", "max_value", F.col("count").cast("bigint").alias("count")
    )


_E24_LIST = ("[1.0, 1.1, 1.2, 1.3, 1.5, 1.6, 1.8, 2.0, 2.2, 2.4, 2.7, 3.0, "
             "3.3, 3.6, 3.9, 4.3, 4.7, 5.1, 5.6, 6.2, 6.8, 7.5, 8.2, 9.1]")

_MQL_BUCKET_AUTO_E24_SQL = f"""
WITH r AS ({_RULINGS_SQL}),
vals AS (SELECT CAST(doc_id AS DOUBLE) AS v, COUNT(*) AS cnt FROM r GROUP BY 1),
ranked AS (
  SELECT v, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         (SELECT SUM(cnt) FROM vals) AS total
  FROM vals),
splits AS (
  SELECT (cb * 5) // total AS bucket, MIN(v) AS s
  FROM ranked GROUP BY 1),
mants AS (SELECT UNNEST({_E24_LIST}) AS m),
-- decade normalization with the engine's m<1 / m>=10 compensation
norm AS (
  SELECT bucket, s,
         FLOOR(LOG10(s)) + CASE WHEN s / POWER(10, FLOOR(LOG10(s))) >= 10 THEN 1
                                WHEN s / POWER(10, FLOOR(LOG10(s))) < 1 THEN -1
                                ELSE 0 END AS e
  FROM splits WHERE s > 0),
lo0 AS (
  SELECT CASE WHEN s = 0 THEN 0.0 ELSE COALESCE(
           (SELECT MAX(m * POWER(10, n.e)) FROM mants
            WHERE m * POWER(10, n.e) <= s),
           9.1 * POWER(10, n.e - 1)) END AS b
  FROM splits LEFT JOIN norm n USING (bucket, s)
  WHERE bucket = (SELECT MIN(bucket) FROM splits)),
ups AS (
  SELECT CASE WHEN s = 0 THEN 0.0 ELSE COALESCE(
           (SELECT MIN(m * POWER(10, n.e)) FROM mants
            WHERE m * POWER(10, n.e) >= s),
           POWER(10, n.e + 1)) END AS b
  FROM splits LEFT JOIN norm n USING (bucket, s)
  WHERE bucket > (SELECT MIN(bucket) FROM splits)),
mx AS (SELECT MAX(v) AS s FROM vals),
mxn AS (
  SELECT s, FLOOR(LOG10(s)) + CASE WHEN s / POWER(10, FLOOR(LOG10(s))) >= 10 THEN 1
                                   WHEN s / POWER(10, FLOOR(LOG10(s))) < 1 THEN -1
                                   ELSE 0 END AS e
  FROM mx WHERE s > 0),
topb AS (
  SELECT CASE WHEN (SELECT s FROM mx) = 0 THEN 1.0 ELSE COALESCE(
           (SELECT MIN(m * POWER(10, mxn.e)) FROM mants
            WHERE m * POWER(10, mxn.e) > mxn.s),
           POWER(10, mxn.e + 1)) END AS b
  FROM mxn),
bounds AS (
  SELECT b FROM lo0
  UNION
  SELECT b FROM ups
  WHERE b > (SELECT b FROM lo0) AND b < (SELECT b FROM topb)
  UNION
  SELECT b FROM topb),
bs AS (SELECT b AS lo, LEAD(b) OVER (ORDER BY b) AS hi FROM bounds)
SELECT bs.lo AS min_value, bs.hi AS max_value,
       CAST(SUM(vals.cnt) AS BIGINT) AS count
FROM bs JOIN vals ON vals.v >= bs.lo AND vals.v < bs.hi
GROUP BY bs.lo, bs.hi ORDER BY bs.lo
"""


def q_mql_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$merge output stage: post-2010 per-tipo counts merged into a
    pre-2010 stats collection on tipo — matched tipos gain the n_new
    field (Mongo's schemaless field addition), pre-2010-only tipos
    keep n_old with NULL n_new, post-2010-only tipos insert with NULL
    n_old. Lowered onto cdc.merge_into (one equi-join, strict source
    keys); the oracle is the equivalent FULL OUTER join."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    r = _rulings(spark, sf_dir)
    stats = r.filter(F.col("anio") < 2010).groupBy("tipo").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_old")
    )
    out = mql_aggregate(
        r,
        [
            {"$match": {"anio": {"$gte": 2010}}},
            {"$group": {"_id": "$tipo", "n_new": {"$sum": 1}}},
            {"$project": {"tipo": "$_id", "n_new": 1}},
            {"$merge": {"into": "tipo_stats", "on": "tipo",
                        "whenMatched": "merge", "whenNotMatched": "insert"}},
        ],
        collections={"tipo_stats": stats},
    )
    return out.select(
        "tipo",
        F.col("n_old").cast("bigint").alias("n_old"),
        F.col("n_new").cast("bigint").alias("n_new"),
    ).orderBy("tipo")


_MQL_MERGE_SQL = f"""
WITH r AS ({_RULINGS_SQL}),
old AS (SELECT tipo, CAST(COUNT(*) AS BIGINT) AS n_old
        FROM r WHERE anio < 2010 GROUP BY tipo),
new AS (SELECT tipo, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM r WHERE anio >= 2010 GROUP BY tipo)
SELECT COALESCE(old.tipo, new.tipo) AS tipo,
       CAST(old.n_old AS BIGINT) AS n_old,
       CAST(new.n_new AS BIGINT) AS n_new
FROM old FULL OUTER JOIN new ON old.tipo = new.tipo
ORDER BY tipo
"""


def q_mql_graph_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$graphLookup over the similarity-edge collection: per start
    node, the edge documents reachable in <= 2 recursion levels
    (depthField = minimum level, Mongo's visit-once rule), folded to a
    (id, depth, n_docs) histogram so the embedded arrays never reach
    the driver compare. Engine side is the shared multi-source-BFS
    skeleton (one frontier hash join + one anti-join per round over a
    persisted doc-graph edge set); the oracle replays the recursion as
    a depth-capped UNION CTE collapsed by MIN(d) per (start, doc)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate
    from providenciasbigdata_spark.operators.similarity import pairwise_cosine_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    edges = pairwise_cosine_blocked(
        emb, threshold=35.0, scale=100.0, block_size=512
    ).select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    # the O(n^2 / blocks) edge build would otherwise rerun for every
    # scan the stage makes of the collection (edge-set self-join, the
    # level-0 probe, the final doc embed) — same persist rationale as
    # q_recursive_reachability; the tiny histogram is checkpointed so
    # the cache releases here, not at session end
    edges = edges.persist()
    try:
        nodes = edges.select(F.col("src").alias("id")).distinct().filter(
            F.col("id") < 50
        )
        out = mql_aggregate(
            nodes,
            [
                {
                    "$graphLookup": {
                        "from": "sim_edges",
                        "startWith": "$id",
                        "connectFromField": "dst",
                        "connectToField": "src",
                        "as": "reach",
                        "maxDepth": 2,
                        "depthField": "d",
                    }
                }
            ],
            collections={"sim_edges": edges},
        )
        res = (
            out.select("id", F.explode("reach").alias("r"))
            .groupBy(
                F.col("id").cast("bigint").alias("id"),
                F.col("r.d").alias("depth"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .orderBy("id", "depth")
            .localCheckpoint(eager=True)
        )
    finally:
        edges.unpersist()
    return res


_MQL_GRAPH_LOOKUP_SQL = """
WITH RECURSIVE edges AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) * 100, 4) >= 35),
starts AS (SELECT DISTINCT src AS id FROM edges WHERE src < 50),
reach(id, esrc, edst, d) AS (
  SELECT s.id, e.src, e.dst, 0 FROM starts s JOIN edges e ON e.src = s.id
  UNION
  SELECT r.id, e.src, e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.edst
  WHERE r.d < 2),
mind AS (SELECT id, esrc, edst, MIN(d) AS depth FROM reach GROUP BY id, esrc, edst)
SELECT CAST(id AS BIGINT) AS id, CAST(depth AS BIGINT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM mind GROUP BY id, depth ORDER BY id, depth
"""


def q_mql_agg_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$match -> $unwind -> $group -> $sort -> $limit: the wordcount
    shape as a literal MQL aggregation pipeline ($match precedes the
    explode and the shuffle; the tie-broken $sort+$limit lowers to
    TakeOrdered)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    return mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$match": {"anio": {"$gte": 2010}}},
            {"$unwind": "$tokens"},
            {"$group": {"_id": "$tokens", "n": {"$sum": 1}}},
            {"$sort": {"n": -1, "_id": 1}},
            {"$limit": 20},
        ],
    )


_MQL_AGG_TOKENS_SQL = (
    f"SELECT token AS _id, CAST(COUNT(*) AS BIGINT) AS n FROM ("
    f"SELECT unnest({_TOKENS_SQL.format(col='text')}) AS token "
    f"FROM documents WHERE 2000 + doc_id % 25 >= 2010"
    f") GROUP BY token ORDER BY n DESC, _id ASC LIMIT 20"
)


def q_mql_text_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked text search through the LITERAL pymongo cursor surface:
    find({"$text": ...}, {"score": {"$meta": "textScore"}})
    .sort([("score", {"$meta": "textScore"}), ...]).limit(k) — the
    $meta projection/sort pair a Mongo user writes for relevance
    ranking. Score = distinct-term overlap (pinned divergence from the
    index-weighted tf score); sort+limit lowers to TakeOrdered."""
    from providenciasbigdata_spark.compat.ir import mql_find

    return mql_find(
        _rulings(spark, sf_dir),
        {"$text": {"$search": "table hash join"}},
        projection={"providencia": 1, "score": {"$meta": "textScore"}},
        sort=[("score", {"$meta": "textScore"}), ("providencia", 1)],
        limit=12,
    )


_MQL_TEXT_SCORE_SQL = (
    f"SELECT providencia, CAST(len(list_intersect(list_distinct("
    f"{_TOKENS_SQL.format(col='text')}), ['table', 'hash', 'join'])) AS BIGINT) AS score "
    f"FROM (SELECT 'P-' || CAST(doc_id AS VARCHAR) AS providencia, text FROM documents) "
    f"WHERE score > 0 ORDER BY score DESC, providencia ASC LIMIT 12"
)


def q_mql_distinct_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collection.distinct(field, filter) — the A2 facet scan with the
    pymongo filter argument ('distinct years within the src3 facet'):
    pushed predicate + hash distinct + ascending sort."""
    from providenciasbigdata_spark.compat.ir import mql_distinct

    return mql_distinct(
        _rulings(spark, sf_dir), "anio", {"tipo": "src3", "anio": {"$gte": 2010}}
    )


_MQL_DISTINCT_SQL = (
    f"SELECT DISTINCT anio FROM ({_RULINGS_SQL}) "
    f"WHERE tipo = 'src3' AND anio >= 2010 ORDER BY anio"
)


def q_mql_agg_group_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound $group _id subdocument ({tipo, decade expression}) —
    the multi-dimensional facet shape; _id comes back as one struct
    column (Mongo's document shape), unpacked to scalars at the query
    edge for the hash compare."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$group": {
                "_id": {"t": "$tipo",
                        "d": {"$subtract": ["$anio", {"$mod": ["$anio", 10]}]}},
                "n": {"$sum": 1},
                "hi": {"$max": "$anio"},
            }},
        ],
    )
    return out.select(
        F.col("_id.t").alias("t"),
        F.col("_id.d").cast("long").alias("d"),
        F.col("n").cast("long").alias("n"),
        F.col("hi").cast("long").alias("hi"),
    )


_MQL_GROUP_COMPOUND_SQL = f"""
SELECT tipo AS t, CAST(anio - anio % 10 AS BIGINT) AS d,
       CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(anio) AS BIGINT) AS hi
FROM ({_RULINGS_SQL}) GROUP BY tipo, anio - anio % 10
"""


def q_mql_agg_project_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$project with COMPUTED fields (Mongo 4.4+ aggregation
    expressions inside the projection): decade arithmetic + text
    length beside a plain include — compiles to one Catalyst
    projection."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$project": {
                "providencia": 1,
                "decade": {"$subtract": ["$anio", {"$mod": ["$anio", 10]}]},
                "tl": {"$strLenCP": {"$ifNull": ["$texto", ""]}},
            }},
        ],
    )
    return out.select(
        "providencia",
        F.col("decade").cast("long").alias("decade"),
        F.col("tl").cast("long").alias("tl"),
    )


_MQL_PROJECT_COMPUTED_SQL = f"""
SELECT providencia, CAST(anio - anio % 10 AS BIGINT) AS decade,
       CAST(length(COALESCE(texto, '')) AS BIGINT) AS tl
FROM ({_RULINGS_SQL})
"""


def q_mql_agg_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$sample after a scalar $project: DETERMINISTIC md5-order draw
    (documented divergence from Mongo's randomness — reproducible
    across runs and engines, so the exact drawn set hash-checks)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    return mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$project": {"providencia": 1, "anio": 1}},
            {"$sample": {"size": 10}},
        ],
    )


_MQL_SAMPLE_SQL = f"""
SELECT providencia, anio FROM ({_RULINGS_SQL})
ORDER BY md5(concat_ws(chr(31), providencia, CAST(anio AS VARCHAR))) LIMIT 10
"""


def q_mql_agg_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$bucket: five-year bucket histogram over anio with a default
    bucket catching 2020+ — half-open [lo, hi) intervals, _id = lower
    boundary, Mongo's out-of-range contract exercised by the default.
    Lowers to one when-chain + one hash aggregate (a single scan)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$bucket": {
                "groupBy": "$anio",
                "boundaries": [2000, 2005, 2010, 2015, 2020],
                "default": -1,
                "output": {"n": {"$sum": 1}, "max_anio": {"$max": "$anio"}},
            }},
            {"$sort": {"_id": 1}},
        ],
    )
    return out.select(
        F.col("_id").cast("long").alias("_id"),
        F.col("n").cast("long").alias("n"),
        F.col("max_anio").cast("long").alias("max_anio"),
    )


_MQL_BUCKET_SQL = f"""
SELECT CAST(b AS BIGINT) AS _id, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(anio) AS BIGINT) AS max_anio
FROM (SELECT anio,
             CASE WHEN anio >= 2000 AND anio < 2005 THEN 2000
                  WHEN anio >= 2005 AND anio < 2010 THEN 2005
                  WHEN anio >= 2010 AND anio < 2015 THEN 2010
                  WHEN anio >= 2015 AND anio < 2020 THEN 2015
                  ELSE -1 END AS b
      FROM ({_RULINGS_SQL}))
GROUP BY b
"""


def q_mql_agg_add_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$addFields computed columns (the aggregation-expression grammar:
    integer decade arithmetic, $cond era labels, $strLenCP over
    $ifNull) feeding $group accumulators that reference the ADDED
    fields. All expressions stay JVM-side Catalyst — exact integer and
    string ops both engines evaluate identically."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$addFields": {
                "decade": {"$subtract": ["$anio", {"$mod": ["$anio", 10]}]},
                "era": {"$cond": [{"$gte": ["$anio", 2010]}, "modern", "classic"]},
                "tlen": {"$strLenCP": {"$ifNull": ["$texto", ""]}},
            }},
            {"$group": {"_id": "$era", "n": {"$sum": 1},
                        "chars": {"$sum": "$tlen"},
                        "first_decade": {"$min": "$decade"}}},
            {"$sort": {"_id": 1}},
        ],
    )
    return out.select(
        "_id",
        F.col("n").cast("long").alias("n"),
        F.col("chars").cast("long").alias("chars"),
        F.col("first_decade").cast("long").alias("first_decade"),
    )


_MQL_ADD_FIELDS_SQL = f"""
SELECT era AS _id, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(tlen) AS BIGINT) AS chars,
       CAST(MIN(decade) AS BIGINT) AS first_decade
FROM (SELECT CASE WHEN anio >= 2010 THEN 'modern' ELSE 'classic' END AS era,
             anio - anio % 10 AS decade,
             length(COALESCE(texto, '')) AS tlen
      FROM ({_RULINGS_SQL}))
GROUP BY era
"""


def q_mql_agg_union_with(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$unionWith with an inner pipeline: current rulings (2020+)
    unioned with a filtered archive slice (<2003), then $sortByCount —
    two scans unioned ahead of one aggregate, exactly the plan Mongo's
    own stage describes."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    r = _rulings(spark, sf_dir)
    return mql_aggregate(
        r,
        [
            {"$match": {"anio": {"$gte": 2020}}},
            {"$unionWith": {"coll": "archive",
                            "pipeline": [{"$match": {"anio": {"$lt": 2003}}}]}},
            {"$sortByCount": "$tipo"},
        ],
        collections={"archive": r},
    )


_MQL_UNION_WITH_SQL = f"""
SELECT tipo AS _id, CAST(COUNT(*) AS BIGINT) AS count
FROM (SELECT tipo FROM ({_RULINGS_SQL}) WHERE anio >= 2020
      UNION ALL
      SELECT tipo FROM ({_RULINGS_SQL}) WHERE anio < 2003)
GROUP BY tipo ORDER BY count DESC, _id ASC
"""


def q_mql_agg_push_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$push/$addToSet group accumulators (value-sorted — Mongo's $push
    order is pipeline order, unspecified without $sort; the sort makes
    the arrays engine-reproducible). Arrays serialize to CSV at the
    query edge (the parity harness hashes scalar columns only)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$match": {"anio": {"$gte": 2015}}},
            {"$group": {"_id": "$anio",
                        "tipos": {"$addToSet": "$tipo"},
                        "provs": {"$push": "$providencia"}}},
        ],
    )
    return out.select(
        F.col("_id").cast("long").alias("_id"),
        F.array_join("tipos", ",").alias("tipos_csv"),
        F.size("provs").cast("long").alias("n_provs"),
        F.element_at("provs", 1).alias("first_prov"),
    )


_MQL_PUSH_SETS_SQL = f"""
SELECT CAST(anio AS BIGINT) AS _id,
       array_to_string(list_sort(list_distinct(list(tipo))), ',') AS tipos_csv,
       CAST(COUNT(providencia) AS BIGINT) AS n_provs,
       MIN(providencia) AS first_prov
FROM ({_RULINGS_SQL}) WHERE anio >= 2015 GROUP BY anio
"""


def q_mql_agg_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$facet: two named sub-pipelines (tipo ranking, decade counts)
    over the same matched input, emitted as ONE row of result arrays —
    Mongo's multi-facet dashboard shape. Each facet array is sorted
    array<struct>, serialized to a CSV scalar at the query edge."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$match": {"anio": {"$gte": 2010}}},
            {"$facet": {
                "by_tipo": [{"$sortByCount": "$tipo"}],
                "by_decade": [
                    {"$addFields": {"decade": {"$subtract": ["$anio", {"$mod": ["$anio", 10]}]}}},
                    {"$group": {"_id": "$decade", "n": {"$sum": 1}}},
                ],
            }},
        ],
    )
    return out.select(
        F.array_join(
            F.transform("by_tipo", lambda s: F.concat_ws(":", s["_id"], s["count"])),
            ",",
        ).alias("by_tipo"),
        F.array_join(
            F.transform("by_decade", lambda s: F.concat_ws(":", s["_id"], s["n"])),
            ",",
        ).alias("by_decade"),
    )


_MQL_FACET_SQL = f"""
WITH r AS (SELECT * FROM ({_RULINGS_SQL}) WHERE anio >= 2010)
SELECT
  (SELECT string_agg(_id || ':' || CAST(count AS VARCHAR), ',' ORDER BY _id, count)
   FROM (SELECT tipo AS _id, CAST(COUNT(*) AS BIGINT) AS count FROM r GROUP BY tipo)) AS by_tipo,
  (SELECT string_agg(CAST(_id AS VARCHAR) || ':' || CAST(n AS VARCHAR), ',' ORDER BY _id, n)
   FROM (SELECT anio - anio % 10 AS _id, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY 1)) AS by_decade
"""


CYPHER_UNDIRECTED = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]-(b:Providencia)
WHERE r.similitud >= $lo AND r.similitud <= $hi
RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud
"""


def q_cypher_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected anchored 1-hop from the LITERAL no-arrow Cypher
    template (compat.ir template 4): every stored SIMILAR relationship
    touching P-7 in [20, 90], bound anchor-outward — out-edges AND
    in-edges, each relationship once. One scan, one filter; the
    anchor-touching predicate pushes through the edge build's
    projection into the pair join."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb)
    return cypher_run(
        CYPHER_UNDIRECTED, edges=edges,
        params={"origen": "P-7", "lo": 20.0, "hi": 90.0},
    )


_CYPHER_UNDIRECTED_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id = 7 OR b.vec_id = 7
)
SELECT 'P-7' AS origen,
       CASE WHEN src = 'P-7' THEN dst ELSE src END AS destino,
       similitud
FROM e WHERE similitud BETWEEN 20 AND 90
"""


CYPHER_MULTI_ANCHOR = """
MATCH (a:Providencia)-[r:SIMILAR]->(b:Providencia)
WHERE a.id IN $origenes AND r.similitud >= $lo AND r.similitud <= $hi
RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud
"""


def q_cypher_multi_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-anchor directed 1-hop (compat.ir template 5): the anchor
    LIST binds as one parameter and compiles to a scan-pushed isin —
    the batched form of the reference's one-anchor page, still a
    single-pass filter (no join against an anchor table)."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb)
    return cypher_run(
        CYPHER_MULTI_ANCHOR, edges=edges,
        params={"origenes": ["P-3", "P-7", "P-11"], "lo": 40.0, "hi": 100.0},
    )


_CYPHER_MULTI_ANCHOR_SQL = """
SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS origen,
       'P-' || CAST(b.vec_id AS VARCHAR) AS destino,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
FROM embeddings a
JOIN embeddings b ON b.vec_id <> a.vec_id
WHERE a.vec_id IN (3, 7, 11)
  AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) * 100, 4)
      BETWEEN 40 AND 100
"""


CYPHER_NODE_PRED = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo AND r.similitud <= $hi AND b.anio >= $y
RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud
"""


def q_cypher_node_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-property-predicate Cypher (compat.ir template 8): P-7's
    weight-filtered neighbors restricted to rulings with anio >= 2010
    — the first template exercising a real edges-to-nodes join. The
    anchored hit set (a handful of rows) is broadcast against the
    property-filtered nodes scan: the corpus-sized side never
    shuffles (BroadcastHashJoin pinned in tests/test_plans.py)."""
    from providenciasbigdata_spark.compat.documents import rulings_view
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb)
    nodes = rulings_view(load_table(spark, sf_dir, "documents")).select(
        F.col("providencia").alias("id"), F.col("anio").cast("long").alias("anio")
    )
    return cypher_run(
        CYPHER_NODE_PRED, nodes=nodes, edges=edges,
        params={"origen": "P-7", "lo": 20.0, "hi": 90.0, "y": 2010},
    )


_CYPHER_NODE_PRED_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS origen,
         'P-' || CAST(b.vec_id AS VARCHAR) AS destino,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id = 7
), n AS (
  SELECT 'P-' || CAST(doc_id AS VARCHAR) AS id,
         CAST(2000 + doc_id % 25 AS BIGINT) AS anio
  FROM documents
)
SELECT e.origen, e.destino, e.similitud
FROM e JOIN n ON n.id = e.destino
WHERE e.similitud BETWEEN 20 AND 90 AND n.anio >= 2010
"""


CYPHER_GENERIC_3HOP = """
MATCH (a:Providencia {id: $origen})-[r1:SIMILAR]->(b:Providencia)-[r2:SIMILAR]->(c:Providencia)<-[r3:SIMILAR]-(d:Providencia)
WHERE r1.similitud >= $lo1 AND r2.similitud >= $lo2 AND r3.similitud >= $lo3 AND d.anio >= $y
RETURN a.id AS origen, b.id AS paso1, c.id AS paso2, d.id AS fuente, r3.similitud AS similitud
"""


def q_cypher_generic_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic linear-path compiler's showcase (verdict-r5 item 3):
    a THREE-hop anchored chain no round-1..5 template could express —
    the third hop REVERSED (``(c)<-[r3]-(d)``: who else points at my
    2-hop reach), per-hop one-sided weight guards, and a node-property
    predicate on the final variable. Edges come from the session-staged
    bounded-1000 fixture (verdict-r6 item 2): the bench number now
    times the compiler's hop joins over a parquet scan, not the O(n^2)
    cosine scaffold; within the bound the anchored chain broadcasts
    through every hop join."""
    from providenciasbigdata_spark.compat.documents import rulings_view
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    nodes = rulings_view(load_table(spark, sf_dir, "documents")).select(
        F.col("providencia").alias("id"), F.col("anio").cast("long").alias("anio")
    )
    return cypher_run(
        CYPHER_GENERIC_3HOP, nodes=nodes, edges=edges,
        params={"origen": "P-7", "lo1": 30.0, "lo2": 32.0, "lo3": 32.0, "y": 2005},
    )


_CYPHER_GENERIC_3HOP_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
), n AS (
  SELECT 'P-' || CAST(doc_id AS VARCHAR) AS id,
         CAST(2000 + doc_id % 25 AS BIGINT) AS anio
  FROM documents
)
SELECT h1.src AS origen, h1.dst AS paso1, h2.dst AS paso2,
       h3.src AS fuente, h3.similitud AS similitud
FROM e h1
JOIN e h2 ON h2.src = h1.dst
JOIN e h3 ON h3.dst = h2.dst
JOIN n ON n.id = h3.src
WHERE h1.src = 'P-7' AND h1.similitud >= 30
  AND h2.similitud >= 32 AND h3.similitud >= 32 AND n.anio >= 2005
  -- Cypher relationship uniqueness: no hop rebinds an earlier hop's
  -- stored edge (h3==h2 is reachable here whenever d == b; the other
  -- two pairs are vacuous given the join keys but kept for parity)
  AND NOT (h2.src = h1.src AND h2.dst = h1.dst)
  AND NOT (h3.src = h1.src AND h3.dst = h1.dst)
  AND NOT (h3.src = h2.src AND h3.dst = h2.dst)
"""


CYPHER_AGG_STATS = """
MATCH (a:Providencia)-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
RETURN a.id AS id, count(r) AS grado, min(r.similitud) AS s_min, max(r.similitud) AS s_max
"""


def q_cypher_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregating RETURN beyond count (round-6 second session): per-
    source degree + weight extrema in one grouped projection. min/max/
    count are accumulation-order-FREE, so the doubles value-hash
    unrounded (avg is deliberately excluded from the oracle-checked
    surface — float partial-sum order differs across engines; it is
    pinned in pytest instead). Staged bounded-1000 edges fixture."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(CYPHER_AGG_STATS, edges=edges, params={"lo": 28.0})


_CYPHER_AGG_STATS_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS grado,
       MIN(similitud) AS s_min, MAX(similitud) AS s_max
FROM e WHERE similitud >= 28 GROUP BY src
"""


CYPHER_NODE_PROPS = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
RETURN a.id AS origen, b.id AS destino, b.anio AS anio_destino, r.similitud AS similitud
"""


def q_cypher_return_node_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETURN of a non-id node PROPERTY (round-6 second session):
    ``b.anio`` in the projection lazily left-joins the nodes frame —
    Cypher reads a missing property as null, so ids absent from the
    nodes frame survive with NULL anio rather than dropping rows."""
    from providenciasbigdata_spark.compat.documents import rulings_view
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb, anchor_vec_id=7)
    nodes = rulings_view(load_table(spark, sf_dir, "documents")).select(
        F.col("providencia").alias("id"), F.col("anio").cast("long").alias("anio")
    )
    return cypher_run(
        CYPHER_NODE_PROPS, nodes=nodes, edges=edges,
        params={"origen": "P-7", "lo": 20.0},
    )


_CYPHER_NODE_PROPS_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS origen,
         'P-' || CAST(b.vec_id AS VARCHAR) AS destino,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id = 7
), n AS (
  SELECT 'P-' || CAST(doc_id AS VARCHAR) AS id,
         CAST(2000 + doc_id % 25 AS BIGINT) AS anio
  FROM documents
)
SELECT e.origen, e.destino, n.anio AS anio_destino, e.similitud
FROM e LEFT JOIN n ON n.id = e.destino
WHERE e.similitud >= 20
"""


CYPHER_COLLECT = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
RETURN a.id AS origen, count(r) AS n, collect(b.id) AS vecinos
"""


def q_cypher_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher ``collect()`` (round 6): P-7's qualifying neighbors as a
    list aggregate. Cypher leaves list order unspecified (B5), so the
    engine sorts the collected array ($push's determinism rule); the
    query serializes it to a CSV string — the array-top-level-column
    lint for oracle-checked entries."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb, anchor_vec_id=7)
    out = cypher_run(
        CYPHER_COLLECT, edges=edges, params={"origen": "P-7", "lo": 30.0}
    )
    return out.select(
        "origen",
        F.col("n").cast("long").alias("n"),
        F.array_join("vecinos", ",").alias("vecinos"),
    )


_CYPHER_COLLECT_SQL = """
SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS origen,
       CAST(COUNT(*) AS BIGINT) AS n,
       array_to_string(list_sort(list('P-' || CAST(b.vec_id AS VARCHAR))), ',')
         AS vecinos
FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
WHERE a.vec_id = 7
  AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) * 100, 4) >= 30
GROUP BY a.vec_id
"""


CYPHER_COUNT_DISTINCT = """
MATCH (a:Providencia)-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo AND r.similitud <= $hi
RETURN a.id AS origen, count(r) AS n_edges, count(DISTINCT b.anio) AS n_anios
"""


def q_cypher_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``count(DISTINCT b.anio)`` beside a plain ``count(r)`` (round 6):
    per source node, edge count and the number of DISTINCT years among
    its weight-filtered neighbors — the aggregate pair needs the
    node-property left-join (null properties skipped by COUNT, Cypher's
    rule) and Spark's count_distinct in the same hash aggregate.

    Round 7 (verdict-r6 item 2): reads the session-staged bounded-1000
    edges fixture — the OPERATOR (filter + two-phase hash aggregate +
    broadcast node join) is what the bench times now, not the O(n^2)
    cosine scaffold that used to dominate (and which forced the old
    tighter 500 bound)."""
    from providenciasbigdata_spark.compat.documents import rulings_view
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    nodes = rulings_view(load_table(spark, sf_dir, "documents")).select(
        F.col("providencia").alias("id"), F.col("anio").cast("long").alias("anio")
    )
    return cypher_run(
        CYPHER_COUNT_DISTINCT, nodes=nodes, edges=edges,
        params={"lo": 30.0, "hi": 100.0},
    )


_CYPHER_COUNT_DISTINCT_SQL = """
WITH e AS (
  SELECT a.vec_id AS sa, b.vec_id AS vb,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS sim
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
), n AS (
  SELECT doc_id, CAST(2000 + doc_id % 25 AS BIGINT) AS anio FROM documents
)
SELECT 'P-' || CAST(e.sa AS VARCHAR) AS origen,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(COUNT(DISTINCT n.anio) AS BIGINT) AS n_anios
FROM e LEFT JOIN n ON n.doc_id = e.vb
WHERE e.sim BETWEEN 30 AND 100
GROUP BY e.sa
"""


CYPHER_TWO_HOP_MOTIF = """
MATCH (a:Providencia {id: $origen})-[r1:SIMILAR]->(b:Providencia)-[r2:SIMILAR]->(c:Providencia)
WHERE r1.similitud >= $lo1 AND r1.similitud <= $hi1 AND r2.similitud >= $lo2 AND r2.similitud <= $hi2
RETURN a.id AS origen, b.id AS intermedio, c.id AS destino, r2.similitud AS similitud
"""


def q_cypher_two_hop_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-edge motif Cypher (compat.ir template 9): P-7's strong
    neighbors' strong neighbors, each hop under its own weight guard;
    node revisits (c = a) kept, per Cypher's node-reuse rule. The
    graph is BOUNDED to 1000 vectors: the template receives a generic
    edges frame, and hop 2's weight filter cannot prune the all-pairs
    cosine enumeration behind it (unlike graph_two_hop, which builds
    only the |mids| x n pairs it needs) — an unbounded edge build is
    O(n^2) compute at bench SF for a fixture-semantics query. Within
    the bound, the anchored first hop broadcasts into one pass over
    the edge scan."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    # repartition before the pair build: the bounded slice otherwise
    # collapses to one input split and the O(n^2) cosine join runs as
    # a single task
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 1000)
        .repartition(16)
    )
    edges = build_similarity_edges(emb)
    return cypher_run(
        CYPHER_TWO_HOP_MOTIF, edges=edges,
        params={"origen": "P-7", "lo1": 30.0, "hi1": 100.0,
                "lo2": 32.0, "hi2": 100.0},
    )


_CYPHER_TWO_HOP_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT h1.src AS origen, h1.dst AS intermedio, h2.dst AS destino,
       h2.similitud AS similitud
FROM e h1 JOIN e h2 ON h2.src = h1.dst
WHERE h1.src = 'P-7' AND h1.similitud BETWEEN 30 AND 100
  AND h2.similitud BETWEEN 32 AND 100
  -- relationship uniqueness (vacuous for a directed 2-hop over a
  -- self-loop-free edge set; kept to mirror the compiler's semantics)
  AND NOT (h2.src = h1.src AND h2.dst = h1.dst)
"""


CYPHER_OPTIONAL = """
MATCH (a:Providencia {id: $origen})
OPTIONAL MATCH (a)-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo AND r.similitud <= $hi
RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud
"""


def q_cypher_optional_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL MATCH Cypher (compat.ir template 10): P-7's neighbors
    in a weight band chosen to be EMPTY on these fixtures (>= 60; the
    similarity graph tops out ~35) — the result is the anchor row with
    NULL destino/similitud, Cypher's left-join contract, instead of
    zero rows. The with-matches branch is pinned equal to the plain
    1-hop template in tests/test_ir_compat.py."""
    from providenciasbigdata_spark.compat.documents import rulings_view
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb, anchor_vec_id=7)
    nodes = nodes_view(load_table(spark, sf_dir, "documents"))
    return cypher_run(
        CYPHER_OPTIONAL, nodes=nodes, edges=edges,
        params={"origen": "P-7", "lo": 60.0, "hi": 100.0},
    )


_CYPHER_OPTIONAL_SQL = """
WITH n AS (
  SELECT 'P-' || CAST(doc_id AS VARCHAR) AS id FROM documents
), e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id = 7
)
SELECT n.id AS origen, e.dst AS destino, e.similitud AS similitud
FROM n LEFT JOIN e ON e.src = n.id AND e.similitud BETWEEN 60 AND 100
WHERE n.id = 'P-7'
"""


CYPHER_WITH_HAVING = """
MATCH (a:Providencia)-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo AND r.similitud <= $hi
WITH a.id AS id, count(r) AS grado
WHERE grado >= $min_grado
RETURN id, grado
"""


def q_cypher_with_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregating WITH + post-aggregate WHERE (compat.ir template 11)
    — Cypher's HAVING: nodes whose weight-filtered out-degree clears a
    bound; the predicate rides the same two-phase hash aggregate."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb)
    return cypher_run(
        CYPHER_WITH_HAVING, edges=edges,
        params={"lo": 30.0, "hi": 100.0, "min_grado": 2},
    )


_CYPHER_WITH_HAVING_SQL = """
SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS id, CAST(COUNT(*) AS BIGINT) AS grado
FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) * 100, 4)
      BETWEEN 30 AND 100
GROUP BY a.vec_id
HAVING COUNT(*) >= 2
"""


CYPHER_TOPK = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo AND r.similitud <= $hi
RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud
ORDER BY r.similitud DESC, b.id ASC LIMIT $k
"""


def q_cypher_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT Cypher (compat.ir template 12): P-7's top-5
    strongest neighbors — lowers to TakeOrderedAndProject (pinned in
    tests/test_plans.py), the plan that never globally sorts."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb, anchor_vec_id=7)
    return cypher_run(
        CYPHER_TOPK, edges=edges,
        params={"origen": "P-7", "lo": 0.0, "hi": 100.0, "k": 5},
    )


_CYPHER_TOPK_SQL = """
SELECT 'P-7' AS origen,
       'P-' || CAST(b.vec_id AS VARCHAR) AS destino,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
WHERE a.vec_id = 7
  AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) * 100, 4)
      BETWEEN 0 AND 100
ORDER BY similitud DESC, destino ASC LIMIT 5
"""


CYPHER_GLOBAL_TOPK = """
MATCH (a:Providencia)-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud
ORDER BY r.similitud DESC, a.id ASC, b.id ASC LIMIT $k
"""


def q_cypher_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNANCHORED global top-k (compat.ir template 13): the strongest
    SIMILAR relationships in the whole (bounded) graph — the first
    template with no bound anchor; a full relationship scan whose
    ORDER BY + LIMIT still lowers to TakeOrdered per-partition heaps,
    never a global sort. Staged bounded-1000 edges fixture (the old
    300 bound only existed to cap the inline scaffold)."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(CYPHER_GLOBAL_TOPK, edges=edges, params={"lo": 40.0, "k": 25})


_CYPHER_GLOBAL_TOPK_SQL = """
SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS origen,
       'P-' || CAST(b.vec_id AS VARCHAR) AS destino,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
WHERE a.vec_id < 1000 AND b.vec_id < 1000
  AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) * 100, 4) >= 40
ORDER BY similitud DESC, origen ASC, destino ASC LIMIT 25
"""


# ---- round 7 Cypher widening (verdict-r6 item 4) --------------------------

CYPHER_RETURN_COMPUTED = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
RETURN b.id AS vecino,
       r.similitud * 2 AS doble,
       (r.similitud - $lo) / 10 AS margen,
       CASE WHEN r.similitud >= $fuerte THEN 'fuerte'
            WHEN r.similitud >= $media THEN 'media'
            ELSE 'debil' END AS clase
"""


def q_cypher_return_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed RETURN expressions (round 7, verdict-r6 item 4):
    arithmetic over relationship properties and parameters, plus a
    multi-branch CASE — the first shapes past plain projections. The
    compiler parses a real expression grammar (compat/cypher.py::
    _parse_expr) and lowers it to Catalyst column arithmetic inside
    the same single-hop scan plan. Value-hash safety: ``*2`` is exact
    (power of two), and ``(x - lo) / 10`` is one IEEE subtract + one
    correctly-rounded divide evaluated identically by both engines —
    no reassociation, so the doubles hash-match unrounded."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_RETURN_COMPUTED, edges=edges,
        params={"origen": "P-7", "lo": 25.0, "fuerte": 38.0, "media": 31.0},
    )


_CYPHER_RETURN_COMPUTED_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT dst AS vecino,
       similitud * 2 AS doble,
       (similitud - 25.0) / 10 AS margen,
       CASE WHEN similitud >= 38.0 THEN 'fuerte'
            WHEN similitud >= 31.0 THEN 'media'
            ELSE 'debil' END AS clase
FROM e WHERE src = 'P-7' AND similitud >= 25.0
"""


# ---- round 8 Cypher pipelining (verdict-r7 items 1/2/6) --------------------

CYPHER_WITH_CHAIN = """
MATCH (a:Providencia)-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo AND r.similitud <= $hi
WITH a.id AS hub, count(b) AS deg
ORDER BY deg DESC, hub ASC LIMIT 5
MATCH (c {id: hub})-[r2:SIMILAR]->(d:Providencia)
WHERE r2.similitud >= $lo2
RETURN hub, deg, d.id AS vecino, r2.similitud AS similitud
"""


def q_cypher_with_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH-pipeline chaining (round 8, verdict-r7 item 1): the
    standard Cypher composition `MATCH ... WITH agg ... MATCH ...
    RETURN` — find the 5 highest-degree hubs in a weight band, then
    expand each hub's strong neighbors in a SECOND MATCH segment. The
    compiler closes segment 1 as its own aggregate frame (ORDER BY +
    LIMIT applied there, TakeOrdered) and joins segment 2's edge scan
    against it via the `{id: hub}` carried-alias anchor; the
    LIMIT-bounded carried frame broadcasts (compat/cypher.py::
    _compile_segment)."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_WITH_CHAIN, edges=edges,
        params={"lo": 30.0, "hi": 100.0, "lo2": 32.0},
    )


_CYPHER_WITH_CHAIN_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
), hubs AS (
  SELECT src AS hub, CAST(COUNT(*) AS BIGINT) AS deg
  FROM e WHERE similitud BETWEEN 30 AND 100
  GROUP BY src ORDER BY deg DESC, hub ASC LIMIT 5
)
SELECT h.hub AS hub, h.deg AS deg, e.dst AS vecino, e.similitud AS similitud
FROM hubs h JOIN e ON e.src = h.hub
WHERE e.similitud >= 32
"""


CYPHER_OPTIONAL_VARLEN = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
OPTIONAL MATCH (b)-[rs:SIMILAR*1..2]->(c:Providencia)
WHERE all(x IN rs WHERE x.similitud >= $glo AND x.similitud <= $ghi)
RETURN b.id AS vecino, c.id AS lejano, length(rs) AS saltos
"""


def q_cypher_optional_varlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL var-length tail (round 9, verdict-r8 item 6): each
    strong neighbor of the anchor optionally expands 1..2 guarded hops
    — neighbors with no guarded tail keep their row with null
    endpoint/length. Compiles as a multi-source BFS over the guarded
    edge frame seeded by a DataFrame of the bound variable's values
    (never collected to the driver), LEFT-joined once
    (compat/cypher.py::_optional_varlen_tail). Same min-hop-per-
    endpoint semantics as cypher_varlen_expansion; oracle is the
    per-seed recursive CTE collapsed by MIN(hop)."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_OPTIONAL_VARLEN, edges=edges,
        params={"origen": "P-7", "lo": 28.0, "glo": 33.0, "ghi": 100.0},
    )


_CYPHER_OPTIONAL_VARLEN_SQL = """
WITH RECURSIVE e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
), nb AS MATERIALIZED (
  SELECT dst AS b FROM e WHERE src = 'P-7' AND similitud >= 28.0
), reach(b, id, hop) AS (
  SELECT b, b, 0 FROM nb
  UNION ALL
  SELECT r.b, e.dst, r.hop + 1
  FROM reach r JOIN e ON e.src = r.id
  WHERE r.hop < 2 AND e.similitud BETWEEN 33.0 AND 100.0
), best AS (
  SELECT b, id, MIN(hop) AS saltos FROM reach GROUP BY b, id
), hits AS (
  SELECT b, id, saltos FROM best WHERE saltos BETWEEN 1 AND 2
)
SELECT n.b AS vecino, h.id AS lejano, CAST(h.saltos AS BIGINT) AS saltos
FROM nb n LEFT JOIN hits h ON h.b = n.b
"""


CYPHER_OPTIONAL_EXISTS = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
OPTIONAL MATCH (b)-[r2:SIMILAR]->(c)
WHERE r2.similitud >= $hi AND EXISTS {(c)-[:SIMILAR]->(h {id: $hub})}
RETURN b.id AS vecino, r.similitud AS similitud,
       c.id AS refuerzo, r2.similitud AS s2
"""


def q_cypher_optional_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS {...} inside OPTIONAL MATCH (round 10, verdict-r9
    item 5): each strong neighbor optionally binds a further strong
    neighbor that is ITSELF similar to a hub — neighbors with no such
    qualifying extension keep their row with nulls. The clause defers
    (compat/cypher.py split loop): it compiles as its own required
    chain where the existential applies PATTERN-SIDE as a semi-join,
    then ONE left join null-preserves — the same all-or-nothing device
    as multi-hop optionals, so the existential can never drop a
    preserved row. Pattern-predicate and computed-condition forms are
    pinned in tests/test_ir_compat.py."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_OPTIONAL_EXISTS, edges=edges,
        params={"origen": "P-7", "lo": 28.0, "hi": 34.0, "hub": "P-11"},
    )


_CYPHER_OPTIONAL_EXISTS_SQL = """
WITH e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
), anch AS (
  SELECT dst AS b, similitud FROM e WHERE src = 'P-7' AND similitud >= 28.0
), opt AS (
  SELECT o.src AS b2, o.dst AS c, o.similitud AS s2
  FROM e o
  WHERE o.similitud >= 34.0
    AND EXISTS (SELECT 1 FROM e h WHERE h.src = o.dst AND h.dst = 'P-11')
)
SELECT a.b AS vecino, a.similitud AS similitud, o.c AS refuerzo, o.s2 AS s2
FROM anch a LEFT JOIN opt o ON o.b2 = a.b
"""


CYPHER_OPTIONAL_VARLEN_EXISTS = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
OPTIONAL MATCH (b)-[rs:SIMILAR*1..2]->(c:Providencia)
WHERE all(x IN rs WHERE x.similitud >= $glo AND x.similitud <= $ghi)
  AND EXISTS {(c)-[:SIMILAR]->(h {id: $hub})}
RETURN b.id AS vecino, c.id AS lejano, length(rs) AS saltos
"""


def q_cypher_optional_varlen_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Var-length OPTIONAL MATCH with an existential atom (round 11,
    verdict-r10 item 3): each strong neighbor optionally expands 1..2
    guarded hops, but only endpoints that are THEMSELVES similar to a
    hub qualify — neighbors with no qualifying tail keep their row
    with null endpoint/length. The EXISTS applies to the BFS hit
    frame as a semi-join BEFORE the single left join
    (compat/cypher.py::_optional_varlen_tail round-11 extension), so
    the OPTIONAL all-or-nothing contract holds; the oracle filters the
    per-seed recursive CTE's min-hop endpoints with the same EXISTS."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_OPTIONAL_VARLEN_EXISTS, edges=edges,
        params={
            "origen": "P-7", "lo": 28.0, "glo": 33.0, "ghi": 100.0,
            "hub": "P-11",
        },
    )


_CYPHER_OPTIONAL_VARLEN_EXISTS_SQL = """
WITH RECURSIVE e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
), nb AS MATERIALIZED (
  SELECT dst AS b FROM e WHERE src = 'P-7' AND similitud >= 28.0
), reach(b, id, hop) AS (
  SELECT b, b, 0 FROM nb
  UNION ALL
  SELECT r.b, e.dst, r.hop + 1
  FROM reach r JOIN e ON e.src = r.id
  WHERE r.hop < 2 AND e.similitud BETWEEN 33.0 AND 100.0
), best AS (
  SELECT b, id, MIN(hop) AS saltos FROM reach GROUP BY b, id
), hits AS (
  SELECT b, id, saltos FROM best
  WHERE saltos BETWEEN 1 AND 2
    AND EXISTS (SELECT 1 FROM e h WHERE h.src = best.id AND h.dst = 'P-11')
)
SELECT n.b AS vecino, h.id AS lejano, CAST(h.saltos AS BIGINT) AS saltos
FROM nb n LEFT JOIN hits h ON h.b = n.b
"""


CYPHER_OPTIONAL_VARLEN_COMPUTED = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
OPTIONAL MATCH (b)-[rs:SIMILAR*1..2]->(c:Providencia)
WHERE all(x IN rs WHERE x.similitud >= $glo AND x.similitud <= $ghi)
  AND c.anio + length(rs) * $w > $bar
RETURN b.id AS vecino, c.id AS lejano, length(rs) AS saltos
"""


def q_cypher_optional_varlen_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed condition inside a var-length OPTIONAL MATCH (round
    12, verdict-r11 item 4 — the last named raise in the OPTIONAL
    family): arithmetic over the endpoint's node property and the BFS
    hop count (``c.anio + length(rs) * $w > $bar``) filters the hit
    frame BEFORE the single left join
    (compat/cypher.py::_filter_hit_expr_conds), so the all-or-nothing
    contract holds — a strong neighbor whose every guarded tail fails
    the computed bar keeps one null row. The oracle replays the
    per-seed recursive CTE and applies the identical integer
    arithmetic on the endpoint's derived ``anio``."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    docs = load_table(spark, sf_dir, "documents")
    nodes = docs.select(
        F.concat(F.lit("P-"), F.col("doc_id").cast("string")).alias("id"),
        (F.lit(2000) + F.col("doc_id") % 25).cast("int").alias("anio"),
    )
    return cypher_run(
        CYPHER_OPTIONAL_VARLEN_COMPUTED, nodes=nodes, edges=edges,
        params={
            "origen": "P-7", "lo": 28.0, "glo": 33.0, "ghi": 100.0,
            "w": 3, "bar": 2020,
        },
    )


_CYPHER_OPTIONAL_VARLEN_COMPUTED_SQL = """
WITH RECURSIVE e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
), nb AS MATERIALIZED (
  SELECT dst AS b FROM e WHERE src = 'P-7' AND similitud >= 28.0
), reach(b, id, hop) AS (
  SELECT b, b, 0 FROM nb
  UNION ALL
  SELECT r.b, e.dst, r.hop + 1
  FROM reach r JOIN e ON e.src = r.id
  WHERE r.hop < 2 AND e.similitud BETWEEN 33.0 AND 100.0
), best AS (
  SELECT b, id, MIN(hop) AS saltos FROM reach GROUP BY b, id
), hits AS (
  SELECT b, id, saltos FROM best
  WHERE saltos BETWEEN 1 AND 2
    AND (2000 + CAST(substring(id, 3) AS BIGINT) % 25) + saltos * 3 > 2020
)
SELECT n.b AS vecino, h.id AS lejano, CAST(h.saltos AS BIGINT) AS saltos
FROM nb n LEFT JOIN hits h ON h.b = n.b
"""


CYPHER_OPTIONAL_CARRIED_GUARD = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WITH b, r.similitud AS s
OPTIONAL MATCH (b)-[r2:SIMILAR]->(c)
WHERE s >= $smin AND r2.similitud >= $hi
RETURN b.id AS vecino, s, c.id AS refuerzo, r2.similitud AS s2
"""


def q_cypher_optional_carried_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carried-alias comparison inside OPTIONAL MATCH (round 11,
    verdict-r10 item 3): the WITH-carried similarity ``s`` gates the
    optional expansion per row — a weak neighbor (s below the bar)
    keeps its row with nulls rather than being dropped, and a strong
    neighbor with several qualifying extensions keeps its full
    multiplicity. Compiles as part of the LEFT-join CONDITION of the
    deferred optional chain (compat/cypher.py deferred loop): a
    post-join filter would drop preserved rows, a post-join null-out
    would collapse multiplicities — the join condition does neither."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_OPTIONAL_CARRIED_GUARD, edges=edges,
        params={"origen": "P-7", "smin": 31.0, "hi": 34.0},
    )


_CYPHER_OPTIONAL_CARRIED_GUARD_SQL = """
WITH e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
), anch AS (
  SELECT dst AS b, similitud AS s FROM e WHERE src = 'P-7'
), opt AS (
  SELECT src AS b2, dst AS c, similitud AS s2 FROM e WHERE similitud >= 34.0
)
SELECT a.b AS vecino, a.s AS s, o.c AS refuerzo, o.s2 AS s2
FROM anch a LEFT JOIN opt o ON o.b2 = a.b AND a.s >= 31.0
"""


CYPHER_ORDER_EXPR = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
RETURN b.id AS vecino, r.similitud AS similitud
ORDER BY abs(similitud - $mid) ASC, vecino ASC
LIMIT 10
"""


def q_cypher_order_by_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed ORDER BY (round 9): sort by an expression over the
    projected aliases — here proximity to a target weight (the
    'closest similarity to X' ranking a graph user types), alias
    tiebreaker for a deterministic LIMIT. Compiles to a TakeOrdered
    over the projected frame (compat/cypher.py order_expr_col)."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_ORDER_EXPR, edges=edges, params={"origen": "P-7", "mid": 32.0}
    )


_CYPHER_ORDER_EXPR_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT dst AS vecino, similitud
FROM e WHERE src = 'P-7'
ORDER BY ABS(similitud - 32.0) ASC, vecino ASC
LIMIT 10
"""


CYPHER_STATS_AGGS = """
MATCH (a:Providencia)-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
RETURN a.id AS origen, stDev(r.similitud) AS sd, stDevP(r.similitud) AS sdp,
       percentileCont(r.similitud, 0.5) AS mediana
"""


def q_cypher_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neo4j statistical aggregates (round 9): stDev (sample), stDevP
    (population) and percentileCont (exact interpolated percentile)
    over each node's out-edge weights — two-phase hash aggregates, the
    percentile an exact Spark `percentile` aggregate. Doubles rounded
    to 6 digits on both sides (stddev partial-merge order varies in the
    last bits)."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    out = cypher_run(CYPHER_STATS_AGGS, edges=edges, params={"lo": 30.0})
    return out.select(
        "origen",
        F.round("sd", 6).alias("sd"),
        F.round("sdp", 6).alias("sdp"),
        F.round("mediana", 6).alias("mediana"),
    ).filter(F.col("sd").isNotNull())


_CYPHER_STATS_AGGS_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT src AS origen,
       ROUND(STDDEV_SAMP(similitud), 6) AS sd,
       ROUND(STDDEV_POP(similitud), 6) AS sdp,
       ROUND(quantile_cont(similitud, 0.5), 6) AS mediana
FROM e WHERE similitud >= 30.0
GROUP BY src HAVING COUNT(*) > 1
"""


CYPHER_UNANCHORED_VARLEN = """
MATCH (a:Providencia)-[r:SIMILAR]->(b:Providencia)-[rs:SIMILAR*1..2]->(c:Providencia)
WHERE r.similitud >= $lo AND all(x IN rs WHERE x.similitud >= $glo AND x.similitud <= $ghi)
RETURN a.id AS origen, b.id AS medio, c.id AS destino, length(rs) AS saltos
"""


def q_cypher_unanchored_varlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNANCHORED mid-chain var-length (round 9): the chain opens on a
    full edge scan (no anchor), and the var-length hop expands from
    EVERY bound b — possible now that multi_source_bfs takes its seed
    set as a DataFrame (the frontier never reaches the driver, so the
    old anchored-chain requirement is gone; compat/cypher.py mid-chain
    branch). Min-hop-per-endpoint semantics as everywhere; oracle is
    the per-seed recursive CTE."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_UNANCHORED_VARLEN, edges=edges,
        params={"lo": 34.0, "glo": 32.0, "ghi": 100.0},
    )


_CYPHER_UNANCHORED_VARLEN_SQL = """
WITH RECURSIVE e AS MATERIALIZED (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
), firsthop AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e WHERE similitud >= 34.0
), g AS MATERIALIZED (
  SELECT src, dst FROM e WHERE similitud BETWEEN 32.0 AND 100.0
), seeds AS (SELECT DISTINCT b FROM firsthop),
reach(b, id, hop) AS (
  SELECT b, b, 0 FROM seeds
  UNION ALL
  SELECT r.b, g.dst, r.hop + 1 FROM reach r JOIN g ON g.src = r.id
  WHERE r.hop < 2
), best AS (
  SELECT b, id, MIN(hop) AS saltos FROM reach GROUP BY b, id
), hits AS (SELECT b, id, saltos FROM best WHERE saltos BETWEEN 1 AND 2)
SELECT f.a AS origen, f.b AS medio, h.id AS destino,
       CAST(h.saltos AS BIGINT) AS saltos
FROM firsthop f JOIN hits h ON h.b = f.b
"""


CYPHER_SCALAR_FNS = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
RETURN toUpper(b.id) AS vecino_up, substring(b.id, 2) AS sufijo,
       round(sqrt(r.similitud), 3) AS raiz,
       abs(r.similitud - $mid) AS dist
"""


def q_cypher_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function calls in computed RETURN items (round 9;
    ADVICE-r8 closed: _EXPR_FNS wired into the expression parser via a
    name-then-'(' production with depth-aware item splitting) —
    toUpper / 0-based substring / nested round(sqrt(...)) / abs over
    the anchored neighborhood. All functions compile to built-in
    Catalyst expressions; no Python stage (compat/cypher.py::_EXPR_FNS,
    reference query shape: streamlit_app.py:150-158)."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_SCALAR_FNS, edges=edges,
        params={"origen": "P-7", "lo": 28.0, "mid": 32.0},
    )


_CYPHER_SCALAR_FNS_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT UPPER(dst) AS vecino_up, SUBSTRING(dst, 3) AS sufijo,
       ROUND(SQRT(similitud), 3) AS raiz,
       ABS(similitud - 32.0) AS dist
FROM e
WHERE src = 'P-7' AND similitud >= 28.0
"""


CYPHER_UNWIND_ANCHOR = """
UNWIND $ids AS pid
MATCH (a:Providencia {id: pid})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo AND r.similitud <= $hi
RETURN a.id AS origen, count(b) AS vecinos, max(r.similitud) AS top_sim
"""


def q_cypher_unwind_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNWIND parameter batches (round 8, verdict-r7 item 2): the
    standard way Cypher users anchor a pattern on a LIST of ids —
    `UNWIND $ids AS pid MATCH (a {id: pid})-...`. The parameter list
    seeds a driver-sized carried frame; the `{id: pid}` anchor joins
    the (broadcast) seed frame into the edge scan; ids with no
    qualifying match drop (MATCH is required — only OPTIONAL MATCH
    preserves)."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_UNWIND_ANCHOR, edges=edges,
        params={"ids": ["P-7", "P-11", "P-23", "P-999"],
                "lo": 30.0, "hi": 100.0},
    )


_CYPHER_UNWIND_ANCHOR_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT src AS origen, CAST(COUNT(*) AS BIGINT) AS vecinos,
       MAX(similitud) AS top_sim
FROM e
WHERE src IN ('P-7', 'P-11', 'P-23', 'P-999')
  AND similitud BETWEEN 30 AND 100
GROUP BY src
"""


CYPHER_OPTIONAL_TWO_HOP = """
MATCH (a:Providencia {id: $origen})
OPTIONAL MATCH (a)-[r1:SIMILAR]->(b:Providencia)-[r2:SIMILAR]->(c:Providencia)
WHERE r1.similitud >= $lo1 AND r2.similitud >= $lo2
RETURN a.id AS origen, b.id AS intermedio, c.id AS destino
"""


def q_cypher_optional_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop OPTIONAL MATCH (round 8, verdict-r7 item 6): the
    optional pattern compiles as its OWN required chain (hop joins +
    weight guards applied pattern-side, relationship uniqueness
    between r1/r2), then ONE left join onto the anchor — Cypher's
    all-or-nothing contract holds by construction: an anchor with no
    complete qualifying 2-hop path keeps exactly one row with NULL
    intermedio/destino, never a partial first hop."""
    from providenciasbigdata_spark.compat.documents import rulings_view
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    nodes = rulings_view(load_table(spark, sf_dir, "documents")).select(
        F.col("providencia").alias("id")
    )
    return cypher_run(
        CYPHER_OPTIONAL_TWO_HOP, nodes=nodes, edges=edges,
        params={"origen": "P-7", "lo1": 30.0, "lo2": 32.0},
    )


_CYPHER_OPTIONAL_TWO_HOP_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
), n AS (
  SELECT 'P-' || CAST(doc_id AS VARCHAR) AS id FROM documents
), hit AS (
  SELECT h1.src AS o, h1.dst AS intermedio, h2.dst AS destino
  FROM e h1 JOIN e h2 ON h2.src = h1.dst
  WHERE h1.similitud >= 30 AND h2.similitud >= 32
    AND NOT (h2.src = h1.src AND h2.dst = h1.dst)
)
SELECT n.id AS origen, hit.intermedio, hit.destino
FROM n LEFT JOIN hit ON hit.o = n.id
WHERE n.id = 'P-7'
"""


CYPHER_UNION = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo
RETURN b.id AS id
UNION
MATCH (c:Providencia)-[r2:SIMILAR]->(d:Providencia {id: $origen})
WHERE r2.similitud >= $lo
RETURN c.id AS id
"""


def q_cypher_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UNION`` of two anchored one-hop queries (round 7): out- and
    in-neighborhood of one node above a weight floor — each part
    compiles independently (the second anchors on the DESTINATION, so
    its scan filter is ``dst = lit``), then UNION deduplicates, Neo4j's
    contract. Mixing UNION with UNION ALL raises, as in Neo4j; column
    names must agree across parts."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(CYPHER_UNION, edges=edges, params={"origen": "P-7", "lo": 28.0})


_CYPHER_UNION_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT dst AS id FROM e WHERE src = 'P-7' AND similitud >= 28.0
UNION
SELECT src AS id FROM e WHERE dst = 'P-7' AND similitud >= 28.0
"""


CYPHER_EXISTS_GUARD = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo AND EXISTS { (b)-[r2:SIMILAR]->(c) WHERE r2.similitud >= $hub }
RETURN b.id AS vecino, r.similitud AS similitud
"""


def q_cypher_exists_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WHERE EXISTS { pattern }`` (round 7): keep only neighbors
    that themselves have a strong outgoing edge. The subpattern
    compiles as its own chain, projects the bound variable's distinct
    ids, and SEMI-joins the outer chain — existence as set
    intersection, never a row-multiplying join (cardinality preserved
    by construction; NOT EXISTS is the same plan with an anti join,
    pinned in tests/test_ir_compat.py)."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_EXISTS_GUARD, edges=edges,
        params={"origen": "P-7", "lo": 25.0, "hub": 36.0},
    )


_CYPHER_EXISTS_GUARD_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT dst AS vecino, similitud
FROM e
WHERE src = 'P-7' AND similitud >= 25.0
  AND EXISTS (SELECT 1 FROM e h WHERE h.src = e.dst AND h.similitud >= 36.0)
"""


CYPHER_PATTERN_PRED = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo AND (b)-[:SIMILAR]->(h {id: $hub})
RETURN b.id AS vecino, r.similitud AS similitud
"""


def q_cypher_pattern_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern predicate ``WHERE (b)-[:SIMILAR]->(h {id: $hub})``
    (round 7): Neo4j's existential sugar — neighbors of the origin
    that are ALSO similar to a second anchored node. The sugar routes
    through the EXISTS machinery (semi-join against the hub's
    in-neighbor set; the anchored inner pattern prunes the edge scan).
    The both-bound pair form and NOT variants are pinned in
    tests/test_ir_compat.py (the fixture's similarity edges are
    symmetric by construction, so a reciprocity predicate would not
    discriminate there)."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_PATTERN_PRED, edges=edges,
        params={"origen": "P-7", "lo": 25.0, "hub": "P-11"},
    )


_CYPHER_PATTERN_PRED_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT dst AS vecino, similitud
FROM e
WHERE src = 'P-7' AND similitud >= 25.0
  AND EXISTS (SELECT 1 FROM e h WHERE h.src = e.dst AND h.dst = 'P-11')
"""


CYPHER_BRANCHING = """
MATCH (a:Providencia {id: $origen})-[r1:SIMILAR]->(b), (a)-[r2:SIMILAR]->(c)
WHERE r1.similitud >= $strong AND r2.similitud < $strong AND r2.similitud >= $lo
RETURN b.id AS fuerte, c.id AS debil, r1.similitud AS s1, r2.similitud AS s2
"""


def q_cypher_branching_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comma-separated BRANCHING pattern (round 7): one anchored node,
    two relationship branches with disjoint weight bands — strong
    neighbors crossed with weak ones. Each component compiles like its
    own MATCH and joins on the shared anchor (broadcast — the anchored
    side is tiny). The disjoint bands make the documented
    per-component relationship-uniqueness divergence unobservable here
    (no edge can satisfy both guards); the divergent node-reuse pin
    lives in tests/test_ir_compat.py."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_BRANCHING, edges=edges,
        params={"origen": "P-7", "strong": 34.0, "lo": 28.0},
    )


_CYPHER_BRANCHING_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT s.dst AS fuerte, w.dst AS debil, s.similitud AS s1, w.similitud AS s2
FROM e s JOIN e w ON w.src = s.src
WHERE s.src = 'P-7' AND s.similitud >= 34.0
  AND w.similitud < 34.0 AND w.similitud >= 28.0
"""


CYPHER_COMPUTED_WHERE = """
MATCH (a:Providencia {id: $origen})-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud * 2 >= $dbl AND
      CASE WHEN r.similitud >= $hi THEN 1 ELSE 0 END + 1 = $want
RETURN b.id AS vecino, r.similitud AS similitud
"""


def q_cypher_computed_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed WHERE conditions (round 7): arithmetic and CASE inside
    the predicate, through the same expression grammar RETURN uses —
    here selecting the mid band (doubled weight above a floor, CASE
    classifying below the strong threshold). Compiles to a plain
    post-chain filter; the doubled comparison is exact (power of
    two)."""
    from providenciasbigdata_spark.compat.ir import cypher_run
    from providenciasbigdata_spark.queries.fixtures import staged_similarity_edges

    edges = staged_similarity_edges(spark, sf_dir, 1000)
    return cypher_run(
        CYPHER_COMPUTED_WHERE, edges=edges,
        params={"origen": "P-7", "dbl": 56.0, "hi": 36.0, "want": 1},
    )


_CYPHER_COMPUTED_WHERE_SQL = """
WITH e AS (
  SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS src,
         'P-' || CAST(b.vec_id AS VARCHAR) AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
)
SELECT dst AS vecino, similitud
FROM e
WHERE src = 'P-7' AND similitud * 2 >= 56.0
  AND (CASE WHEN similitud >= 36.0 THEN 1 ELSE 0 END) + 1 = 1
"""


CYPHER_DEGREE = """
MATCH (a:Providencia)-[r:SIMILAR]->(b:Providencia)
WHERE r.similitud >= $lo AND r.similitud <= $hi
RETURN a.id AS id, count(r) AS grado
"""


def q_cypher_degree_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregating-RETURN Cypher (compat.ir template 6): per-node
    out-degree of the weight-filtered SIMILAR graph — filter ahead of
    the shuffle, two-phase count aggregate."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb)
    return cypher_run(CYPHER_DEGREE, edges=edges, params={"lo": 30.0, "hi": 100.0})


_CYPHER_DEGREE_SQL = """
SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS id,
       CAST(COUNT(*) AS BIGINT) AS grado
FROM embeddings a
JOIN embeddings b ON b.vec_id <> a.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) * 100, 4)
      BETWEEN 30 AND 100
GROUP BY a.vec_id
"""


_A10_SQL = """
SELECT 'P-' || CAST(a.vec_id AS VARCHAR) AS origen,
       'P-' || CAST(b.vec_id AS VARCHAR) AS destino,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) * 100, 4) AS similitud
FROM embeddings a
JOIN embeddings b ON b.vec_id <> a.vec_id
WHERE a.vec_id = 7
  AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) * 100, 4)
      BETWEEN 0 AND 100
"""


def q_mql_window_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo 7.0 window ``$median``/``$percentile`` inside
    $setWindowFields (round 7): per event type, the trailing-5 rolling
    median and p75 of value — exact interpolation (the engine's
    documented divergence from Mongo's t-digest), order-deterministic
    because window frames evaluate sequentially; oracle is DuckDB's
    windowed quantile_cont over the identical frame."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = mql_aggregate(
        ev,
        [{"$setWindowFields": {
            "partitionBy": "$event_type",
            "sortBy": {"event_id": 1},
            "output": {
                "med5": {"$median": {"input": "$value", "method": "approximate"},
                         "window": {"documents": [-4, "current"]}},
                "p75_5": {"$percentile": {"input": "$value", "p": [0.75],
                                          "method": "approximate"},
                          "window": {"documents": [-4, "current"]}},
            },
        }}],
    )
    return out.select(
        "event_id", "event_type",
        F.round("med5", 6).alias("med5"),
        F.round("p75_5", 6).alias("p75_5"),
    )


_MQL_WINDOW_PCT_SQL = """
SELECT event_id, event_type,
       ROUND(quantile_cont(value, 0.5) OVER w, 6) AS med5,
       ROUND(quantile_cont(value, 0.75) OVER w, 6) AS p75_5
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def q_mql_date_trunc_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$dateTrunc`` with ``binSize`` (round 11, verdict-r10 item 4):
    12-hour and 2-month bins of the event stream, anchored at Mongo's
    2000-01-01T00:00:00Z reference — fixed-width units bin by UTC
    epoch arithmetic, calendar units in month-index space via
    add_months (compat/ir.py $dateTrunc). The hypertable-rollup shape
    at a granularity plain date_trunc cannot express."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    out = mql_aggregate(
        ev,
        [
            {"$addFields": {
                "bin12h": {"$dateTrunc": {"date": "$ts", "unit": "hour",
                                          "binSize": 12}},
                "bin2mo": {"$dateTrunc": {"date": "$ts", "unit": "month",
                                          "binSize": 2}},
            }},
            {"$group": {"_id": "$bin12h", "n": {"$sum": 1},
                        "mo": {"$addToSet": "$bin2mo"}}},
        ],
    )
    return out.select(
        F.date_format("_id", "yyyy-MM-dd HH:mm:ss").alias("bin_start"),
        F.col("n").cast("long").alias("n"),
        F.date_format(F.element_at("mo", 1), "yyyy-MM-dd HH:mm:ss").alias("bin2mo"),
    )


_MQL_DATE_TRUNC_BINS_SQL = """
WITH b AS (
  SELECT to_timestamp(946684800
           + CAST(floor((epoch(ts) - 946684800) / 43200) AS BIGINT) * 43200) AS b12,
         CAST(DATE '2000-01-01' + to_months(CAST(
              ((year(ts) - 2000) * 12 + month(ts) - 1)
              - ((year(ts) - 2000) * 12 + month(ts) - 1) % 2 AS INTEGER))
              AS TIMESTAMP) AS b2mo
  FROM events
)
SELECT strftime(b12, '%Y-%m-%d %H:%M:%S') AS bin_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       strftime(MIN(b2mo), '%Y-%m-%d %H:%M:%S') AS bin2mo
FROM b GROUP BY 1
"""


def q_mql_window_range_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-unit ``range`` window in $setWindowFields (round 11,
    verdict-r10 item 4): per user, the trailing-3-DAY sum and count of
    event values — bounds scale to MILLIS and the frame orders by UTC
    epoch millis, exactly Mongo's value-distance semantics (and
    resolution) for fixed-width units (compat/ir.py range-window
    branch; round 12 lifted the whole-second truncation)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    out = mql_aggregate(
        ev,
        [{"$setWindowFields": {
            "partitionBy": "$user_id",
            "sortBy": {"ts": 1},
            "output": {
                "sum3d": {"$sum": "$value",
                          "window": {"range": [-3, "current"], "unit": "day"}},
                "n3d": {"$count": {},
                        "window": {"range": [-3, "current"], "unit": "day"}},
            },
        }}],
    )
    return out.select(
        "user_id", "event_id",
        F.round("sum3d", 6).alias("sum3d"),
        F.col("n3d").cast("long").alias("n3d"),
    )


_MQL_WINDOW_RANGE_DAYS_SQL = """
SELECT user_id, event_id, ROUND(SUM(value) OVER w, 6) AS sum3d,
       CAST(COUNT(*) OVER w AS BIGINT) AS n3d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             RANGE BETWEEN 259200000 PRECEDING AND CURRENT ROW)
"""


def q_mql_date_trunc_week_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$dateTrunc`` week bins with ``startOfWeek`` + ``binSize``
    (round 12, verdict-r11 item 6): fortnight buckets of the event
    stream anchored at the most recent Monday on or before Mongo's
    2000-01-01 reference (1999-12-27), plus the default Sunday-start
    weekly bin — fixed 7-day millis arithmetic, only the anchor moves
    (compat/ir.py $dateTrunc week path). The oracle replays the same
    epoch-millis floor from the same anchors."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    out = mql_aggregate(
        ev,
        [
            {"$addFields": {
                "wk_sun": {"$dateTrunc": {"date": "$ts", "unit": "week"}},
                "fort_mon": {"$dateTrunc": {"date": "$ts", "unit": "week",
                                            "binSize": 2,
                                            "startOfWeek": "monday"}},
            }},
            {"$group": {"_id": "$fort_mon", "n": {"$sum": 1},
                        "wk": {"$addToSet": "$wk_sun"}}},
        ],
    )
    return out.select(
        F.date_format("_id", "yyyy-MM-dd HH:mm:ss").alias("fortnight_start"),
        F.col("n").cast("long").alias("n"),
        F.size("wk").cast("long").alias("n_sunday_weeks"),
    )


# anchors: Sunday 1999-12-26 = 946166400s, Monday 1999-12-27 = 946252800s
_MQL_DATE_TRUNC_WEEK_SQL = """
WITH b AS (
  SELECT to_timestamp((946252800000
           + (epoch_ms(ts) - 946252800000)
           - (epoch_ms(ts) - 946252800000) % 1209600000) / 1000.0) AS fort,
         to_timestamp((946166400000
           + (epoch_ms(ts) - 946166400000)
           - (epoch_ms(ts) - 946166400000) % 604800000) / 1000.0) AS wk
  FROM events
)
SELECT strftime(fort, '%Y-%m-%d %H:%M:%S') AS fortnight_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT wk) AS BIGINT) AS n_sunday_weeks
FROM b GROUP BY 1
"""


def q_mql_date_trunc_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$dateTrunc`` with ``timezone`` (round 12, the last $dateTrunc
    option): daily event bins in America/Bogota (UTC-5, no DST) —
    truncation runs in the zone's WALL clock and the bin start comes
    back as a UTC instant (05:00Z boundaries), so late-evening UTC
    events land on the LOCAL previous day. The oracle replays the
    identical wall-clock walk with DuckDB's ICU timezone(): instant ->
    local wall -> date_trunc -> instant -> UTC wall."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    out = mql_aggregate(
        ev,
        [
            {"$addFields": {"day_local": {"$dateTrunc": {
                "date": "$ts", "unit": "day",
                "timezone": "America/Bogota"}}}},
            {"$group": {"_id": "$day_local", "n": {"$sum": 1}}},
        ],
    )
    return out.select(
        F.date_format("_id", "yyyy-MM-dd HH:mm:ss").alias("day_start_utc"),
        F.col("n").cast("long").alias("n"),
    )


_MQL_DATE_TRUNC_TZ_SQL = """
WITH b AS (
  SELECT timezone('UTC',
           timezone('America/Bogota',
             date_trunc('day',
               timezone('America/Bogota', timezone('UTC', ts))))) AS d
  FROM events
)
SELECT strftime(d, '%Y-%m-%d %H:%M:%S') AS day_start_utc,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY 1
"""


def q_mql_window_range_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-unit range window (round 12, verdict-r11 item 6): per
    user, the trailing-1-MONTH sum and count of event values. Months
    are not fixed-width, so no linear RANGE frame exists — the frame
    is dateAdd-boundary membership (day-clamped month subtraction,
    Mongo's $dateAdd rule), lowered as the distinct-anchor join device
    (compat/ir.py::_apply_calendar_range). The oracle replays the
    identical boundaries with DuckDB's clamped INTERVAL arithmetic."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    out = mql_aggregate(
        ev,
        [{"$setWindowFields": {
            "partitionBy": "$user_id",
            "sortBy": {"ts": 1},
            "output": {
                "sum1mo": {"$sum": "$value",
                           "window": {"range": [-1, "current"], "unit": "month"}},
                "n1mo": {"$count": {},
                         "window": {"range": [-1, "current"], "unit": "month"}},
            },
        }}],
    )
    return out.select(
        "user_id", "event_id",
        F.round("sum1mo", 6).alias("sum1mo"),
        F.col("n1mo").cast("long").alias("n1mo"),
    )


_MQL_WINDOW_RANGE_MONTHS_SQL = """
SELECT a.user_id, a.event_id,
       ROUND(SUM(b.value), 6) AS sum1mo,
       CAST(COUNT(b.event_id) AS BIGINT) AS n1mo
FROM events a LEFT JOIN events b
  ON b.user_id = a.user_id
 AND b.ts >= a.ts - INTERVAL 1 MONTH
 AND b.ts <= a.ts
GROUP BY a.user_id, a.event_id
"""


def q_mql_group_merge_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$mergeObjects`` as a GROUP accumulator (round 11, verdict-r10
    item 4; expression form since I5): per source, merge one
    {lang: doc_id} entry per document in $sort order — later documents
    overwrite, so the merged map holds each language's LAST doc id.
    Deterministic-subset lowering in compat/ir.py::_merge_objects_acc
    (requires the preceding single-field $sort, canonical-JSON
    tiebreak); serialized to scalar columns per the array-lint rule."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    out = mql_aggregate(
        docs,
        [
            {"$sort": {"doc_id": 1}},
            {"$group": {"_id": "$source",
                        "by_lang": {"$mergeObjects": {"$arrayToObject": [[
                            {"k": "$lang", "v": {"$toString": "$doc_id"}},
                        ]]}}}},
            {"$addFields": {"pairs": {"$objectToArray": "$by_lang"}}},
            {"$project": {"_id": 1, "n_langs": {"$size": "$pairs"},
                          "packed": {"$reduce": {
                              "input": {"$map": {
                                  "input": "$pairs", "as": "p",
                                  "in": {"$concat": ["$$p.k", "=", "$$p.v"]}}},
                              "initialValue": "",
                              "in": {"$concat": ["$$value", "|", "$$this"]}}}}},
        ],
    )
    return out.select(
        F.col("_id").alias("source"),
        F.col("n_langs").cast("long").alias("n_langs"),
        "packed",
    )


_MQL_GROUP_MERGE_OBJECTS_SQL = """
WITH last AS (
  SELECT source, lang, MAX(doc_id) AS doc_id FROM documents GROUP BY 1, 2
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_langs,
       '|' || string_agg(lang || '=' || CAST(doc_id AS VARCHAR), '|' ORDER BY lang)
           AS packed
FROM last GROUP BY source
"""


def q_mql_window_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo 5.0 window ``$expMovingAvg`` (round 9): per-user
    recursive EMA of the event value in event order, N=5 (alpha =
    2/(N+1)). Sequential by definition — the engine folds each row's
    partition-prefix list left-to-right in one F.aggregate, and the
    oracle replays the identical multiply-add order via list_reduce,
    so the doubles value-hash UNROUNDED (the truncated relational
    EWMA is ewma_truncated_user; this is the MQL recursive surface)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50).select(
        "event_id", "user_id", "value"
    )
    out = mql_aggregate(
        ev,
        [{"$setWindowFields": {
            "partitionBy": "$user_id",
            "sortBy": {"event_id": 1},
            "output": {"ema": {"$expMovingAvg": {"input": "$value", "N": 5}}},
        }}],
    )
    return out.select("event_id", "user_id", "ema")


_MQL_WINDOW_EMA_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, CAST(value AS DOUBLE) AS x
  FROM events WHERE user_id < 50
), win AS (
  SELECT event_id, user_id, x,
         list(x) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vals
  FROM ev
)
SELECT event_id, user_id,
       CASE WHEN len(vals) = 1 THEN vals[1]
            ELSE list_reduce(
              list_prepend(vals[1], vals[2:]),
              (acc, xx) -> {2.0 / 6.0!r} * xx + (1.0 - {2.0 / 6.0!r}) * acc)
       END AS ema
FROM win
"""


def q_mql_window_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo 5.0 window ``$covariancePop``/``$covarianceSamp`` inside
    $setWindowFields (round 8, verdict-r7 item 9): per event type, the
    trailing-4 covariance of (value, user_id). Window frames evaluate
    sequentially so the co-moment accumulation is order-deterministic;
    rounded to 6 digits because the engines' streaming updates may
    differ in the last ulp. Single-row frames: covar_samp is NULL
    (n-1 = 0), covar_pop is 0 — both engines agree."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "user_id"
    )
    out = mql_aggregate(
        ev,
        [{"$setWindowFields": {
            "partitionBy": "$event_type",
            "sortBy": {"event_id": 1},
            "output": {
                "cov_p": {"$covariancePop": ["$value", "$user_id"],
                          "window": {"documents": [-3, "current"]}},
                "cov_s": {"$covarianceSamp": ["$value", "$user_id"],
                          "window": {"documents": [-3, "current"]}},
            },
        }}],
    )
    return out.select(
        "event_id", "event_type",
        F.round("cov_p", 6).alias("cov_p"),
        F.round("cov_s", 6).alias("cov_s"),
    )


_MQL_WINDOW_COV_SQL = """
SELECT event_id, event_type,
       ROUND(COVAR_POP(value, user_id) OVER w, 6) AS cov_p,
       ROUND(COVAR_SAMP(value, user_id) OVER w, 6) AS cov_s
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


def q_mql_iso_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO 8601 date parts (round 8, verdict-r7 item 9): $isoWeek /
    $isoDayOfWeek / $isoWeekYear / $week / $dayOfYear / $dayOfWeek plus
    a $dateToString with the ISO %G-W%V-%u specifiers. Spark bans
    week-based pattern letters since 3.0, so the ISO fields compile to
    computed columns concatenated between date_format runs
    (compat/ir.py::_date_to_string_col); $isoWeekYear is the year of
    the ISO week's Thursday. $week is Mongo's Sunday-start week 0-53:
    floor((dayOfYear + 6 - sundayStartDow0) / 7)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    return mql_aggregate(
        ev,
        [{"$project": {
            "event_id": 1,
            "iso_week": {"$isoWeek": "$ts"},
            "iso_dow": {"$isoDayOfWeek": "$ts"},
            "iso_year": {"$isoWeekYear": "$ts"},
            "week_sun": {"$week": "$ts"},
            "doy": {"$dayOfYear": "$ts"},
            "dow": {"$dayOfWeek": "$ts"},
            "iso_label": {"$dateToString": {"date": "$ts",
                                            "format": "%G-W%V-%u"}},
        }}],
    )


_MQL_ISO_DATE_SQL = """
SELECT event_id,
       CAST(weekofyear(ts) AS INT) AS iso_week,
       CAST(isodow(ts) AS INT) AS iso_dow,
       CAST(isoyear(ts) AS INT) AS iso_year,
       CAST(FLOOR((dayofyear(ts) + 6 - dayofweek(ts)) / 7) AS INT) AS week_sun,
       CAST(dayofyear(ts) AS INT) AS doy,
       CAST(dayofweek(ts) + 1 AS INT) AS dow,
       strftime(ts, '%G-W%V-%u') AS iso_label
FROM events
"""


def q_mql_agg_window_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$setWindowFields (verdict-r5 item 2): per-tipo running sum of
    anio, document number, a ±2 RANGE window count on doc_id, a
    $shift lead with default, and a whole-partition (no-window) max —
    every modern window shape in one stage, all sharing one
    partition/sort so Catalyst plans a single Window operator."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [{"$setWindowFields": {
            "partitionBy": "$tipo",
            "sortBy": {"doc_id": 1},
            "output": {
                "cum_anio": {"$sum": "$anio",
                             "window": {"documents": ["unbounded", "current"]}},
                "rn": {"$documentNumber": {}},
                "near_n": {"$sum": 1, "window": {"range": [-2, 2]}},
                "next_anio": {"$shift": {"output": "$anio", "by": 1, "default": -1}},
                "max_anio": {"$max": "$anio"},
            },
        }}],
    )
    return out.select(
        "providencia", "tipo",
        F.col("cum_anio").cast("long").alias("cum_anio"),
        F.col("rn").cast("long").alias("rn"),
        F.col("near_n").cast("long").alias("near_n"),
        F.col("next_anio").cast("long").alias("next_anio"),
        F.col("max_anio").cast("long").alias("max_anio"),
    )


_MQL_WINDOW_FIELDS_SQL = f"""
SELECT providencia, tipo,
       CAST(SUM(anio) OVER (PARTITION BY tipo ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_anio,
       CAST(ROW_NUMBER() OVER (PARTITION BY tipo ORDER BY doc_id) AS BIGINT) AS rn,
       CAST(COUNT(*) OVER (PARTITION BY tipo ORDER BY doc_id
            RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS near_n,
       CAST(COALESCE(LEAD(anio, 1) OVER (PARTITION BY tipo ORDER BY doc_id), -1)
            AS BIGINT) AS next_anio,
       CAST(MAX(anio) OVER (PARTITION BY tipo) AS BIGINT) AS max_anio
FROM ({_RULINGS_SQL})
"""


def q_mql_agg_replace_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$replaceRoot (round 6): promote an embedded document to the
    root — the stage every nested-document consumer uses after a
    $lookup/unwind. Exercises both forms: a struct column as newRoot,
    then $replaceWith with a literal expression document (computed
    fields become the new document). Lowers to plain SELECTs —
    column pruning reaches the scan."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    r = _rulings(spark, sf_dir).withColumn(
        "meta", F.struct(F.col("tipo"), F.col("anio").cast("long").alias("anio"))
    )
    out = mql_aggregate(
        r,
        [
            {"$replaceRoot": {"newRoot": "$meta"}},
            {"$replaceWith": {"tipo": "$tipo",
                              "decada": {"$subtract": ["$anio", {"$mod": ["$anio", 10]}]}}},
            {"$sortByCount": "$decada"},
        ],
    )
    return out.select(F.col("_id").cast("long").alias("_id"), "count")


_MQL_REPLACE_ROOT_SQL = f"""
SELECT CAST(anio - (anio % 10) AS BIGINT) AS _id,
       CAST(COUNT(*) AS BIGINT) AS count
FROM ({_RULINGS_SQL})
GROUP BY _id ORDER BY count DESC, _id ASC
"""


def q_mql_agg_unset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$unset (round 6): Mongo's field-removal stage — drop the text
    payload before a grouped count (the narrow-before-shuffle shape);
    unsetting a missing field is a no-op, as in Mongo."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$unset": ["texto", "tokens", "not_a_field"]},
            {"$group": {"_id": "$tipo", "n": {"$sum": 1},
                        "max_anio": {"$max": "$anio"}}},
        ],
    )
    return out.select(
        "_id", F.col("n").cast("long").alias("n"),
        F.col("max_anio").cast("long").alias("max_anio"),
    )


_MQL_UNSET_SQL = (
    f"SELECT tipo AS _id, CAST(COUNT(*) AS BIGINT) AS n, "
    f"CAST(MAX(anio) AS BIGINT) AS max_anio FROM ({_RULINGS_SQL}) GROUP BY tipo"
)


def q_mql_agg_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$densify (verdict-r5 item 2): thin the rulings to a sparse set
    of years, then densify anio at step 1 over each tipo partition's
    own [min, max] — generated rows carry NULL providencia, so the
    output distinguishes real vs generated years per tipo. Plan: one
    per-partition min/max aggregate + sequence/explode + left_anti
    equi-join (gap generation never scans the corpus twice)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        _rulings(spark, sf_dir),
        [
            {"$match": {"anio": {"$in": [2001, 2004, 2012, 2019, 2023]}}},
            {"$densify": {"field": "anio",
                          "range": {"step": 1, "bounds": "partition"},
                          "partitionByFields": ["tipo"]}},
        ],
    )
    return (
        out.groupBy("tipo", F.col("anio").cast("long").alias("anio"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("providencia").cast("long").alias("n_real"),
        )
    )


_MQL_DENSIFY_SQL = f"""
WITH r AS (SELECT * FROM ({_RULINGS_SQL})
           WHERE anio IN (2001, 2004, 2012, 2019, 2023)),
b AS (SELECT tipo, MIN(anio) AS lo, MAX(anio) AS hi FROM r GROUP BY tipo),
g AS (SELECT tipo, UNNEST(range(lo, hi)) AS anio FROM b WHERE hi > lo),
miss AS (SELECT g.tipo, g.anio FROM g ANTI JOIN (SELECT DISTINCT tipo, anio FROM r) e
         USING (tipo, anio)),
allr AS (SELECT tipo, anio, providencia FROM r
         UNION ALL SELECT tipo, anio, NULL AS providencia FROM miss)
SELECT tipo, CAST(anio AS BIGINT) AS anio,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(providencia) AS BIGINT) AS n_real
FROM allr GROUP BY tipo, anio
"""


def q_mql_agg_densify_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$densify with a DATE UNIT (round 6): per-event-type daily
    timeline from a sparse set of observed days — step 1 day over each
    partition's [min, max], generated days carry a NULL 'real' marker.
    The calendar-interval sibling of mql_agg_densify; candidates come
    from sequence(lo, hi, INTERVAL 1 DAY), upper-exclusive."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    sparse = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
        .filter(F.dayofmonth("day").isin(1, 9, 20))
        .withColumn("real", F.lit(1))
    )
    out = mql_aggregate(
        sparse,
        [{"$densify": {"field": "day",
                       "range": {"step": 1, "unit": "day", "bounds": "partition"},
                       "partitionByFields": ["event_type"]}}],
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.count("real").cast("long").alias("n_real"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


_MQL_DENSIFY_TIME_SQL = """
WITH sparse AS (
  SELECT DISTINCT event_type, date_trunc('day', ts) AS day FROM events
), filt AS (
  SELECT event_type, day, 1 AS real FROM sparse
  WHERE date_part('day', day) IN (1, 9, 20)
), b AS (
  SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
  FROM filt GROUP BY event_type
), g AS (
  SELECT b.event_type, u.day
  FROM b, UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS u(day)
  WHERE b.hi > b.lo AND u.day < b.hi
), miss AS (
  SELECT g.event_type, g.day FROM g
  ANTI JOIN (SELECT event_type, day FROM filt) e USING (event_type, day)
), allr AS (
  SELECT event_type, day, real FROM filt
  UNION ALL SELECT event_type, day, NULL AS real FROM miss
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(COUNT(real) AS BIGINT) AS n_real,
       MIN(day) AS first_day, MAX(day) AS last_day
FROM allr GROUP BY event_type
"""


def q_mql_agg_derivative_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$derivative + $integral window functions (round 6, Mongo 5.0)
    over per-user event series on the event_id axis: trailing 3-row
    rate of change and running trapezoidal area. The integral is a
    LEFT-TO-RIGHT fold of trapezoids over the materialized window list
    — the oracle replays the identical term order (the EWMA pattern),
    so the doubles value-hash UNROUNDED."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "event_id", F.col("value").cast("double").alias("v"))
    )
    out = mql_aggregate(
        ev,
        [{"$setWindowFields": {
            "partitionBy": "$user_id",
            "sortBy": {"event_id": 1},
            "output": {
                "rate": {"$derivative": {"input": "$v"},
                         "window": {"documents": [-2, 0]}},
                "area": {"$integral": {"input": "$v"},
                         "window": {"documents": ["unbounded", "current"]}},
            },
        }}],
    )
    return out.select("user_id", "event_id", "rate", "area")


_MQL_DERIV_INT_SQL = """
WITH ev AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v
  FROM events WHERE user_id < 30
), w AS (
  SELECT user_id, event_id, v,
         CAST(FIRST_VALUE(event_id) OVER t3 AS DOUBLE) AS fs,
         CAST(LAST_VALUE(event_id) OVER t3 AS DOUBLE) AS ls,
         FIRST_VALUE(v) OVER t3 AS fv,
         LAST_VALUE(v) OVER t3 AS lv,
         list(CAST(event_id AS DOUBLE)) OVER cum AS ss,
         list(v) OVER cum AS vs
  FROM ev
  WINDOW t3 AS (PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         cum AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       CASE WHEN ls - fs <> 0 THEN (lv - fv) / (ls - fs) END AS rate,
       CASE WHEN len(ss) >= 2 THEN
         list_reduce(
           list_prepend(0.0,
             list_transform(range(1, len(ss)),
                            i -> (vs[i + 1] + vs[i]) * (ss[i + 1] - ss[i]) / 2.0)),
           (acc, t) -> acc + t)
       ELSE 0.0 END AS area
FROM w
"""


def q_mql_derivative_time_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$derivative/$integral over a TIMESTAMP axis (round 12 — the
    date-unit form the numeric sibling above couldn't express): per
    user, the trailing 3-event per-HOUR rate of change and the running
    value x hour area. The axis is epoch millis divided into the unit
    (fixed-width only, Mongo's rule for these functions); both engines
    divide identical integers, difference and fold in identical order,
    so the doubles value-hash UNROUNDED."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "event_id", "ts",
                F.col("value").cast("double").alias("v"))
    )
    out = mql_aggregate(
        ev,
        [{"$setWindowFields": {
            "partitionBy": "$user_id",
            "sortBy": {"ts": 1},
            "output": {
                "rate_h": {"$derivative": {"input": "$v", "unit": "hour"},
                           "window": {"documents": [-2, 0]}},
                "area_h": {"$integral": {"input": "$v", "unit": "hour"},
                           "window": {"documents": ["unbounded", "current"]}},
            },
        }}],
    )
    return out.select("user_id", "event_id", "rate_h", "area_h")


_MQL_DERIV_TIME_SQL = """
WITH ev AS (
  SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS v,
         CAST(epoch_ms(ts) AS DOUBLE) / 3600000.0 AS s
  FROM events WHERE user_id < 30
), w AS (
  SELECT user_id, event_id, v,
         FIRST_VALUE(s) OVER t3 AS fs, LAST_VALUE(s) OVER t3 AS ls,
         FIRST_VALUE(v) OVER t3 AS fv, LAST_VALUE(v) OVER t3 AS lv,
         list(s) OVER cum AS ss, list(v) OVER cum AS vs
  FROM ev
  WINDOW t3 AS (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         cum AS (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       CASE WHEN ls - fs <> 0 THEN (lv - fv) / (ls - fs) END AS rate_h,
       CASE WHEN len(ss) >= 2 THEN
         list_reduce(
           list_prepend(0.0,
             list_transform(range(1, len(ss)),
                            i -> (vs[i + 1] + vs[i]) * (ss[i + 1] - ss[i]) / 2.0)),
           (acc, t) -> acc + t)
       ELSE 0.0 END AS area_h
FROM w
"""


def q_mql_agg_date_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 expression/accumulator widening over a non-rulings
    collection (any DataFrame is a collection): ``$dateTrunc`` +
    ``$year`` in $addFields, the dedicated ``$count: {}`` accumulator,
    and timestamp $min/$max — per event type: event count, active
    distinct-day count, first/last activity day."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        load_table(spark, sf_dir, "events"),
        [
            {"$addFields": {"day": {"$dateTrunc": {"date": "$ts", "unit": "day"}},
                            "yr": {"$year": "$ts"}}},
            {"$group": {"_id": "$event_type",
                        "n": {"$count": {}},
                        "first_day": {"$min": "$day"},
                        "last_day": {"$max": "$day"},
                        "min_yr": {"$min": "$yr"}}},
        ],
    )
    return out.select(
        "_id", F.col("n").cast("long").alias("n"),
        "first_day", "last_day",
        F.col("min_yr").cast("long").alias("min_yr"),
    )


_MQL_DATE_OPS_SQL = """
SELECT event_type AS _id,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(date_trunc('day', ts)) AS first_day,
       MAX(date_trunc('day', ts)) AS last_day,
       CAST(MIN(year(ts)) AS BIGINT) AS min_yr
FROM events GROUP BY event_type
"""


def q_mql_unwind_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$unwind document form (round 6): ``includeArrayIndex`` +
    ``preserveNullAndEmptyArrays`` — every 10th ruling's token array is
    emptied so the preserve path has real work (the preserved row
    carries a NULL element and NULL index, Mongo's contract; engine =
    posexplode_outer). Per year: total rows, indexed rows, max index —
    all exact integers the oracle derives from token counts."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    r = _rulings(spark, sf_dir).withColumn(
        "toks",
        F.when(
            F.col("doc_id") % 10 == 0, F.array().cast("array<string>")
        ).otherwise(F.col("tokens")),
    ).select("doc_id", "anio", "toks")
    out = mql_aggregate(
        r,
        [
            {"$unwind": {"path": "$toks", "includeArrayIndex": "pos",
                         "preserveNullAndEmptyArrays": True}},
            {"$group": {"_id": "$anio",
                        "n_rows": {"$count": {}},
                        "n_indexed": {"$sum": {"$cond": [
                            {"$gte": ["$pos", 0]}, 1, 0]}},
                        "max_pos": {"$max": "$pos"}}},
        ],
    )
    return out.select(
        F.col("_id").cast("long").alias("_id"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_indexed").cast("long").alias("n_indexed"),
        F.col("max_pos").cast("long").alias("max_pos"),
    )


_MQL_UNWIND_SQL = f"""
WITH v AS (
  SELECT CAST(2000 + doc_id % 25 AS BIGINT) AS anio,
         CASE WHEN doc_id % 10 = 0 THEN 0
              ELSE len({_TOKENS_SQL.format(col='text')}) END AS l
  FROM documents)
SELECT anio AS _id,
       CAST(SUM(CASE WHEN l > 0 THEN l ELSE 1 END) AS BIGINT) AS n_rows,
       CAST(SUM(l) AS BIGINT) AS n_indexed,
       CAST(MAX(CASE WHEN l > 0 THEN l - 1 END) AS BIGINT) AS max_pos
FROM v GROUP BY anio
"""


def q_mql_agg_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$switch expression (round 6): tier events by value ranges in
    $addFields (ordered branches, default arm), then count + value
    extrema per tier — extrema are order-free doubles so the whole row
    value-hashes without rounding."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        load_table(spark, sf_dir, "events"),
        [
            {"$addFields": {"tier": {"$switch": {
                "branches": [
                    {"case": {"$lt": ["$value", 10]}, "then": "low"},
                    {"case": {"$lt": ["$value", 100]}, "then": "mid"},
                ],
                "default": "high",
            }}}},
            {"$group": {"_id": "$tier",
                        "n": {"$count": {}},
                        "vmin": {"$min": "$value"},
                        "vmax": {"$max": "$value"}}},
        ],
    )
    return out.select("_id", F.col("n").cast("long").alias("n"), "vmin", "vmax")


_MQL_SWITCH_SQL = """
SELECT CASE WHEN value < 10 THEN 'low'
            WHEN value < 100 THEN 'mid'
            ELSE 'high' END AS _id,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS vmin,
       MAX(value) AS vmax
FROM events GROUP BY 1
"""


def q_mql_string_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String expression operators (round 6): per year, whitespace-
    split word mass of trimmed texts, first-10-codepoint prefixes'
    lexical extrema, and 'the'-position statistics — all exact
    integers/strings ($split splits on a LITERAL delimiter, unlike
    F.split's regex; $indexOfCP is 0-based with -1 absent)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    r = _rulings(spark, sf_dir).select("anio", "texto")
    out = mql_aggregate(
        r,
        [
            {"$addFields": {
                "words": {"$size": {"$split": [{"$trim": {"input": "$texto"}},
                                               " "]}},
                "prefix": {"$substrCP": [{"$trim": {"input": "$texto"}}, 0, 10]},
                "the_pos": {"$indexOfCP": ["$texto", "the "]},
            }},
            {"$group": {"_id": "$anio",
                        "total_words": {"$sum": "$words"},
                        "min_prefix": {"$min": "$prefix"},
                        "n_has_the": {"$sum": {"$cond": [
                            {"$gte": ["$the_pos", 0]}, 1, 0]}},
                        "max_the_pos": {"$max": "$the_pos"}}},
        ],
    )
    return out.select(
        F.col("_id").cast("long").alias("_id"),
        F.col("total_words").cast("long").alias("total_words"),
        "min_prefix",
        F.col("n_has_the").cast("long").alias("n_has_the"),
        F.col("max_the_pos").cast("long").alias("max_the_pos"),
    )


_MQL_STRING_SQL = """
WITH v AS (
  SELECT CAST(2000 + doc_id % 25 AS BIGINT) AS anio,
         len(string_split(trim(text), ' ')) AS words,
         substring(trim(text), 1, 10) AS prefix,
         CAST(strpos(text, 'the ') - 1 AS BIGINT) AS the_pos
  FROM documents)
SELECT anio AS _id,
       CAST(SUM(words) AS BIGINT) AS total_words,
       MIN(prefix) AS min_prefix,
       CAST(SUM(CASE WHEN the_pos >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_has_the,
       CAST(MAX(the_pos) AS BIGINT) AS max_the_pos
FROM v GROUP BY anio
"""


def q_mql_object_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-valued expression operators (round 7, verdict-r6 item
    6): ``$mergeObjects`` (later keys win, proved by overwriting
    ``s``), ``$objectToArray`` (sorted k/v entry structs), and the
    ``$arrayToObject`` roundtrip read back through a dotted map path —
    serialized to scalar columns per the array-lint rule via
    ``$map``/``$reduce`` over the entries."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    out = mql_aggregate(
        docs,
        [
            {"$project": {"doc_id": 1, "merged": {"$mergeObjects": [
                {"l": "$lang", "s": "overwritten"},
                {"s": "$source", "z": "extra"},
            ]}}},
            {"$addFields": {"pairs": {"$objectToArray": "$merged"}}},
            {"$addFields": {
                "n_keys": {"$size": "$pairs"},
                "packed": {"$reduce": {
                    "input": {"$map": {"input": "$pairs", "as": "p",
                                       "in": {"$concat": ["$$p.k", "=", "$$p.v"]}}},
                    "initialValue": "",
                    "in": {"$concat": ["$$value", "|", "$$this"]},
                }},
                "roundtrip": {"$arrayToObject": ["$pairs"]},
            }},
            {"$project": {"doc_id": 1, "n_keys": 1, "packed": 1,
                          "back_s": "$roundtrip.s"}},
        ],
    )
    return out.select(
        "doc_id",
        F.col("n_keys").cast("long").alias("n_keys"),
        "packed",
        "back_s",
    )


_MQL_OBJECT_SQL = """
SELECT doc_id,
       CAST(3 AS BIGINT) AS n_keys,
       '|l=' || lang || '|s=' || source || '|z=extra' AS packed,
       source AS back_s
FROM documents
"""


def q_mql_regex_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$regexFind`` / ``$regexFindAll`` (round 7, verdict-r6 item 6):
    Mongo's {match, idx, captures} documents, consumed through dotted
    struct paths and serialized to scalars. ``idx`` is the 0-based
    match position (oracle: strpos — exact here because no fixture
    word contains another word's match text as a substring); no-match
    $regexFind is null, $ifNull-defaulted on both engines."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = mql_aggregate(
        docs,
        [
            {"$project": {"doc_id": 1,
                "f": {"$regexFind": {"input": "$text", "regex": "\\bb(\\w+)"}},
                "alls": {"$regexFindAll": {"input": "$text", "regex": "\\bs(\\w+)"}},
            }},
            {"$project": {"doc_id": 1,
                "first_word": {"$ifNull": ["$f.match", "NONE"]},
                "first_idx": {"$ifNull": ["$f.idx", -1]},
                "first_cap": {"$ifNull": [{"$arrayElemAt": ["$f.captures", 0]}, "NONE"]},
                "n_s": {"$size": "$alls"},
                "s_words": {"$reduce": {
                    "input": {"$map": {"input": "$alls", "as": "m", "in": "$$m.match"}},
                    "initialValue": "",
                    "in": {"$concat": ["$$value", ",", "$$this"]},
                }},
                "s_caps": {"$reduce": {
                    "input": {"$map": {"input": "$alls", "as": "m",
                                       "in": {"$arrayElemAt": ["$$m.captures", 0]}}},
                    "initialValue": "",
                    "in": {"$concat": ["$$value", ",", "$$this"]},
                }},
            }},
        ],
    )
    return out.select(
        "doc_id", "first_word",
        F.col("first_idx").cast("long").alias("first_idx"),
        "first_cap",
        F.col("n_s").cast("long").alias("n_s"),
        "s_words", "s_caps",
    )


_MQL_REGEX_EXPR_SQL = r"""
SELECT doc_id,
       CASE WHEN regexp_matches(text, '\bb(\w+)')
            THEN regexp_extract(text, '\bb(\w+)', 0) ELSE 'NONE' END AS first_word,
       CASE WHEN regexp_matches(text, '\bb(\w+)')
            THEN CAST(strpos(text, regexp_extract(text, '\bb(\w+)', 0)) - 1 AS BIGINT)
            ELSE CAST(-1 AS BIGINT) END AS first_idx,
       CASE WHEN regexp_matches(text, '\bb(\w+)')
            THEN regexp_extract(text, '\bb(\w+)', 1) ELSE 'NONE' END AS first_cap,
       CAST(len(regexp_extract_all(text, '\bs(\w+)', 0)) AS BIGINT) AS n_s,
       CASE WHEN len(regexp_extract_all(text, '\bs(\w+)', 0)) = 0 THEN ''
            ELSE ',' || array_to_string(regexp_extract_all(text, '\bs(\w+)', 0), ',')
       END AS s_words,
       CASE WHEN len(regexp_extract_all(text, '\bs(\w+)', 1)) = 0 THEN ''
            ELSE ',' || array_to_string(regexp_extract_all(text, '\bs(\w+)', 1), ',')
       END AS s_caps
FROM documents
"""


def q_mql_lookup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$lookup`` pipeline form (round 7): per order, the top-3
    highest-price line items at quantity >= 30 — correlated equality
    ($$o == l_orderkey) + row-local $match + $sort/$limit, lowered to
    a per-join-key WINDOW rank on the foreign side before ONE grouped
    left join (never a per-local-row subquery). The embedded array
    keeps pipeline sort order; the (price desc, linenumber) sort key
    is unique per order so both engines rank identically. Serialized
    per the array-lint rule."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    out = mql_aggregate(
        orders,
        [
            {"$lookup": {"from": "lineitem", "as": "top_items",
                "let": {"o": "$o_orderkey"},
                "pipeline": [
                    {"$match": {"$expr": {"$eq": ["$$o", "$l_orderkey"]}}},
                    {"$match": {"l_quantity": {"$gte": 30}}},
                    {"$sort": {"l_extendedprice": -1, "l_linenumber": 1}},
                    {"$limit": 3},
                ]}},
            {"$addFields": {
                "n_top": {"$size": "$top_items"},
                "lines": {"$reduce": {
                    "input": {"$map": {"input": "$top_items", "as": "i",
                                       "in": {"$toString": "$$i.l_linenumber"}}},
                    "initialValue": "",
                    "in": {"$concat": ["$$value", ",", "$$this"]}}},
                "qty_top": {"$reduce": {
                    "input": {"$map": {"input": "$top_items", "as": "i",
                                       "in": {"$toLong": "$$i.l_quantity"}}},
                    "initialValue": 0,
                    "in": {"$add": ["$$value", "$$this"]}}},
            }},
            {"$project": {"o_orderkey": 1, "n_top": 1, "lines": 1, "qty_top": 1}},
        ],
        collections={"lineitem": li},
    )
    return out.select(
        "o_orderkey",
        F.col("n_top").cast("long").alias("n_top"),
        "lines",
        F.col("qty_top").cast("long").alias("qty_top"),
    )


_MQL_LOOKUP_PIPELINE_SQL = """
WITH f AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber) AS rk
  FROM lineitem WHERE l_quantity >= 30
), top AS (
  SELECT * FROM f WHERE rk <= 3
), agg AS (
  SELECT l_orderkey,
         COUNT(*) AS n_top,
         ',' || string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY rk) AS lines,
         SUM(CAST(l_quantity AS BIGINT)) AS qty_top
  FROM top GROUP BY l_orderkey
)
SELECT o.o_orderkey,
       CAST(COALESCE(a.n_top, 0) AS BIGINT) AS n_top,
       COALESCE(a.lines, '') AS lines,
       CAST(COALESCE(a.qty_top, 0) AS BIGINT) AS qty_top
FROM orders o LEFT JOIN agg a ON a.l_orderkey = o.o_orderkey
"""


def q_mql_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo 7.0 ``$percentile``/``$median`` + ``$firstN``/``$lastN``
    accumulators (round 7). Percentiles are EXACT linear interpolation
    (documented divergence: Mongo only ships t-digest approximation;
    exactness is what an oracle can check — the bounded-state path is
    agg_percentiles_approx). firstN/lastN ride the deterministic-
    subset gate: the preceding $sort defines pipeline order."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = mql_aggregate(
        ev,
        [
            {"$sort": {"event_id": 1}},
            {"$group": {"_id": "$event_type",
                "med": {"$median": {"input": "$value", "method": "approximate"}},
                "pct": {"$percentile": {"input": "$value", "p": [0.25, 0.9],
                                        "method": "approximate"}},
                "first3": {"$firstN": {"input": "$event_id", "n": 3}},
                "last2": {"$lastN": {"input": "$event_id", "n": 2}},
            }},
        ],
    )
    return out.select(
        "_id", "med",
        F.element_at("pct", 1).alias("p25"),
        F.element_at("pct", 2).alias("p90"),
        F.concat_ws(",", F.transform("first3", lambda x: x.cast("string"))).alias("first3"),
        F.concat_ws(",", F.transform("last2", lambda x: x.cast("string"))).alias("last2"),
    )


_MQL_PERCENTILE_SQL = """
SELECT event_type AS _id,
       quantile_cont(value, 0.5) AS med,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.9) AS p90,
       array_to_string(list_slice(list_sort(list(event_id)), 1, 3), ',') AS first3,
       array_to_string(list_slice(list_sort(list(event_id)),
                                  greatest(len(list(event_id)) - 1, 1),
                                  len(list(event_id))), ',') AS last2
FROM events GROUP BY event_type
"""


def q_mql_datetime_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$dateToString`` (Mongo %-specifiers -> Java pattern, literal
    runs quoted) + Mongo 6.3 bitwise expression operators (round 7),
    aggregated so the formatted strings and bit results are both
    value-hashed: per (day, hour-bucket), event count and XOR/AND bit
    digests of the ids."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    out = mql_aggregate(
        ev,
        [
            {"$addFields": {
                "day": {"$dateToString": {"date": "$ts", "format": "%Y-%m-%d"}},
                "hh": {"$dateToString": {"date": "$ts", "format": "h=%H"}},
                "lo12": {"$bitAnd": ["$event_id", 4095]},
                "flip": {"$bitXor": [{"$bitAnd": ["$event_id", 255]}, 170]},
            }},
            {"$group": {"_id": "$day",
                        "n": {"$count": {}},
                        "max_hh": {"$max": "$hh"},
                        "sum_lo": {"$sum": "$lo12"},
                        "sum_flip": {"$sum": "$flip"}}},
        ],
    )
    return out.select(
        "_id",
        F.col("n").cast("long").alias("n"),
        "max_hh",
        F.col("sum_lo").cast("long").alias("sum_lo"),
        F.col("sum_flip").cast("long").alias("sum_flip"),
    )


_MQL_DATETIME_SQL = """
WITH v AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         'h=' || strftime(ts, '%H') AS hh,
         event_id & 4095 AS lo12,
         xor(event_id & 255, 170) AS flip
  FROM events
)
SELECT day AS _id,
       CAST(COUNT(*) AS BIGINT) AS n,
       MAX(hh) AS max_hh,
       CAST(SUM(lo12) AS BIGINT) AS sum_lo,
       CAST(SUM(flip) AS BIGINT) AS sum_flip
FROM v GROUP BY day
"""


def q_mql_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$first/$last group accumulators in the DETERMINISTIC subset
    (round 6): a single-field $sort precedes the $group, so they
    compile to min_by/max_by over the sort key — plus the set
    expression ops ($setUnion sizes as distinct counts, $setEquals
    order-insensitivity vs $reverseArray)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    r = _rulings(spark, sf_dir).select("doc_id", "providencia", "tipo", "tokens")
    out = mql_aggregate(
        r,
        [
            {"$addFields": {
                "n_distinct": {"$size": {"$setUnion": ["$tokens", "$tokens"]}},
                "order_free": {"$setEquals": ["$tokens",
                                              {"$reverseArray": "$tokens"}]},
            }},
            {"$sort": {"doc_id": 1}},
            {"$group": {"_id": "$tipo",
                        "first_p": {"$first": "$providencia"},
                        "last_p": {"$last": "$providencia"},
                        "n": {"$count": {}},
                        "sum_distinct": {"$sum": "$n_distinct"},
                        "all_order_free": {"$min": "$order_free"}}},
        ],
    )
    return out.select(
        "_id", "first_p", "last_p",
        F.col("n").cast("long").alias("n"),
        F.col("sum_distinct").cast("long").alias("sum_distinct"),
        "all_order_free",
    )


_MQL_FIRST_LAST_SQL = f"""
WITH t AS (
  SELECT doc_id, source AS tipo,
         {_TOKENS_SQL.format(col='text')} AS toks
  FROM documents)
SELECT tipo AS _id,
       'P-' || CAST(MIN(doc_id) AS VARCHAR) AS first_p,
       'P-' || CAST(MAX(doc_id) AS VARCHAR) AS last_p,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(len(list_distinct(toks))) AS BIGINT) AS sum_distinct,
       MIN(TRUE) AS all_order_free
FROM t GROUP BY tipo
"""


def q_mql_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$dateAdd/$dateDiff/$let (round 6): per event type, count of
    events whose 7-day-extended due date clears a mid-window deadline,
    the total boundary-crossing day age to that deadline ($dateDiff
    truncates both ends to the unit — Mongo counts crossings, not
    elapsed wholes), and a $let-scoped floored double sum."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    ev = load_table(spark, sf_dir, "events").withColumn(
        "end_ts", F.lit("2024-01-20 00:00:00").cast("timestamp")
    )
    out = mql_aggregate(
        ev,
        [
            {"$addFields": {
                "due": {"$dateAdd": {"startDate": "$ts", "unit": "day",
                                     "amount": 7}},
                "age_d": {"$dateDiff": {"startDate": "$ts",
                                        "endDate": "$end_ts", "unit": "day"}},
                "scaled": {"$let": {"vars": {"v2": {"$multiply": ["$value", 2]}},
                                    "in": {"$floor": "$$v2"}}},
            }},
            {"$group": {"_id": "$event_type",
                        "n": {"$count": {}},
                        "on_time": {"$sum": {"$cond": [
                            {"$lte": ["$due", "$end_ts"]}, 1, 0]}},
                        "total_age": {"$sum": "$age_d"},
                        "total_scaled": {"$sum": "$scaled"}}},
        ],
    )
    return out.select(
        "_id",
        F.col("n").cast("long").alias("n"),
        F.col("on_time").cast("long").alias("on_time"),
        F.col("total_age").cast("long").alias("total_age"),
        F.col("total_scaled").cast("long").alias("total_scaled"),
    )


_MQL_DATE_MATH_SQL = """
WITH v AS (
  SELECT event_type,
         ts + INTERVAL 7 DAY AS due,
         date_diff('day', date_trunc('day', ts),
                   date_trunc('day', TIMESTAMP '2024-01-20 00:00:00')) AS age_d,
         CAST(floor(value * 2) AS BIGINT) AS scaled
  FROM events)
SELECT event_type AS _id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN due <= TIMESTAMP '2024-01-20 00:00:00'
                     THEN 1 ELSE 0 END) AS BIGINT) AS on_time,
       CAST(SUM(age_d) AS BIGINT) AS total_age,
       CAST(SUM(scaled) AS BIGINT) AS total_scaled
FROM v GROUP BY event_type
"""


def q_mql_hof_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$map/$filter/$reduce with $$variable scoping (round 6): per
    year, total characters via a $reduce left fold, count of long
    tokens via $filter+$size, and the width of the per-doc $map length
    array — the three Mongo higher-order expressions lowering to
    Catalyst transform/filter/aggregate (single-param lambdas: the
    2-param form would receive the array INDEX, the documented trap)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    r = _rulings(spark, sf_dir).select("anio", "tokens")
    out = mql_aggregate(
        r,
        [
            {"$addFields": {
                "chars": {"$reduce": {
                    "input": "$tokens", "initialValue": 0,
                    "in": {"$add": ["$$value", {"$strLenCP": "$$this"}]}}},
                "n_long": {"$size": {"$filter": {
                    "input": "$tokens", "as": "t",
                    "cond": {"$gte": [{"$strLenCP": "$$t"}, 5]}}}},
                "n_lens": {"$size": {"$map": {
                    "input": "$tokens", "in": {"$strLenCP": "$$this"}}}},
            }},
            {"$group": {"_id": "$anio",
                        "total_chars": {"$sum": "$chars"},
                        "total_long": {"$sum": "$n_long"},
                        "total_lens": {"$sum": "$n_lens"}}},
        ],
    )
    return out.select(
        F.col("_id").cast("long").alias("_id"),
        F.col("total_chars").cast("long").alias("total_chars"),
        F.col("total_long").cast("long").alias("total_long"),
        F.col("total_lens").cast("long").alias("total_lens"),
    )


_MQL_HOF_SQL = f"""
WITH t AS (
  SELECT CAST(2000 + doc_id % 25 AS BIGINT) AS anio,
         {_TOKENS_SQL.format(col='text')} AS toks
  FROM documents)
SELECT anio AS _id,
       CAST(SUM(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0))
            AS BIGINT) AS total_chars,
       CAST(SUM(len(list_filter(toks, x -> length(x) >= 5))) AS BIGINT)
         AS total_long,
       CAST(SUM(len(toks)) AS BIGINT) AS total_lens
FROM t GROUP BY anio
"""


def q_mql_array_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + conversion expression operators (round 6): per year,
    token-count mass via ``$size``, lexical extrema of ``$first``/
    ``$last`` tokens, and a ``$toString`` of a ``$toLong`` conversion
    chain — all exact values."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    r = _rulings(spark, sf_dir).select("anio", "tokens")
    out = mql_aggregate(
        r,
        [
            {"$addFields": {
                "ntok": {"$size": "$tokens"},
                "first_tok": {"$first": "$tokens"},
                "last_tok": {"$last": "$tokens"},
                "second_tok": {"$arrayElemAt": ["$tokens", 1]},
                "penult_tok": {"$arrayElemAt": ["$tokens", -2]},
                "year_str": {"$toString": {"$toLong": "$anio"}},
            }},
            {"$group": {"_id": "$year_str",
                        "total_tok": {"$sum": "$ntok"},
                        "min_first": {"$min": "$first_tok"},
                        "max_last": {"$max": "$last_tok"},
                        "n_second": {"$sum": {"$cond": [
                            {"$eq": ["$second_tok", "the"]}, 1, 0]}},
                        "min_penult": {"$min": "$penult_tok"}}},
        ],
    )
    return out.select(
        "_id",
        F.col("total_tok").cast("long").alias("total_tok"),
        "min_first", "max_last",
        F.col("n_second").cast("long").alias("n_second"),
        "min_penult",
    )


_MQL_ARRAY_EXPR_SQL = f"""
WITH t AS (
  SELECT CAST(CAST(2000 + doc_id % 25 AS BIGINT) AS VARCHAR) AS year_str,
         {_TOKENS_SQL.format(col='text')} AS toks
  FROM documents)
SELECT year_str AS _id,
       CAST(SUM(len(toks)) AS BIGINT) AS total_tok,
       MIN(toks[1]) AS min_first,
       MAX(toks[len(toks)]) AS max_last,
       CAST(SUM(CASE WHEN toks[2] = 'the' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_second,
       MIN(CASE WHEN len(toks) >= 2 THEN toks[len(toks) - 1] END) AS min_penult
FROM t GROUP BY year_str
"""


def q_mql_cursor_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection ``$slice`` through find() (round 6): first-3 and
    last-2 token slices beside an include projection (inclusion
    neutrality: the sliced fields ride the include set). Serialized to
    CSV for the hash compare; DuckDB twins are plain list slices over
    the shared tokenizer expression."""
    from providenciasbigdata_spark.compat.ir import mql_find

    r = _rulings(spark, sf_dir).withColumn("toks2", F.col("tokens"))
    out = mql_find(
        r,
        {"anio": {"$gte": 2010}},
        projection={"providencia": 1,
                    "tokens": {"$slice": 3},
                    "toks2": {"$slice": -2}},
    )
    return out.select(
        "providencia",
        F.array_join("tokens", ",").alias("first3"),
        F.array_join("toks2", ",").alias("last2"),
    )


_MQL_SLICE_SQL = f"""
WITH t AS (
  SELECT 'P-' || CAST(doc_id AS VARCHAR) AS providencia,
         {_TOKENS_SQL.format(col='text')} AS toks
  FROM documents WHERE 2000 + doc_id % 25 >= 2010)
SELECT providencia,
       array_to_string(toks[1:3], ',') AS first3,
       array_to_string(toks[greatest(len(toks) - 1, 1):len(toks)], ',') AS last2
FROM t
"""


def q_mql_agg_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo 5.2/6.0 N-accumulators (round 6): per event type, the ids
    of the 3 highest-value events ($topN), the 3 smallest floored
    values ($minN), and the ids of the 2 lowest-value events presented
    in the sortBy order ($bottomN). sortBy ties are broken by the
    output value (documented determinism upgrade), so the CSV
    serializations hash exactly."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        load_table(spark, sf_dir, "events"),
        [
            {"$group": {"_id": "$event_type",
                        "top_ids": {"$topN": {"output": "$event_id",
                                              "sortBy": {"value": -1}, "n": 3}},
                        "low_vals": {"$minN": {"input": {"$floor": "$value"},
                                               "n": 3}},
                        "last_ids": {"$bottomN": {"output": "$event_id",
                                                  "sortBy": {"value": -1},
                                                  "n": 2}}}},
        ],
    )
    as_csv = lambda c: F.array_join(  # noqa: E731
        F.transform(F.col(c), lambda x: x.cast("string")), ","
    ).alias(c)
    return out.select("_id", as_csv("top_ids"), as_csv("low_vals"), as_csv("last_ids"))


_MQL_TOPN_SQL = """
SELECT event_type AS _id,
       array_to_string(list_transform(
         (list(event_id ORDER BY value DESC, event_id DESC)
            FILTER (value IS NOT NULL AND event_id IS NOT NULL))[1:3],
         x -> CAST(x AS VARCHAR)), ',') AS top_ids,
       array_to_string(list_transform(
         list_sort(list(CAST(floor(value) AS BIGINT))
            FILTER (value IS NOT NULL))[1:3],
         x -> CAST(x AS VARCHAR)), ',') AS low_vals,
       array_to_string(list_transform(
         list_reverse((list(event_id ORDER BY value ASC, event_id ASC)
            FILTER (value IS NOT NULL AND event_id IS NOT NULL))[1:2]),
         x -> CAST(x AS VARCHAR)), ',') AS last_ids
FROM events GROUP BY event_type
"""


def q_mql_agg_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$stdDevSamp/$stdDevPop (round 6, previously an explicit
    unsupported-raise): per-language spread of document lengths. On
    this integral column the accumulators compile to exact 128-bit
    moments (n / Σx / Σx² as DECIMAL(38,0) ≡ DuckDB HUGEINT) and ONE
    correctly-rounded division + sqrt — deterministic across row
    orders, so the doubles value-hash UNROUNDED (Mongo's own float
    accumulation is order-dependent; determinism here is a deliberate
    engine upgrade, kept only where it is exact)."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    out = mql_aggregate(
        load_table(spark, sf_dir, "documents"),
        [
            {"$group": {"_id": "$lang",
                        "n": {"$count": {}},
                        "sd_samp": {"$stdDevSamp": "$n_chars"},
                        "sd_pop": {"$stdDevPop": "$n_chars"}}},
        ],
    )
    return out.select(
        "_id", F.col("n").cast("long").alias("n"), "sd_samp", "sd_pop"
    )


_MQL_STDDEV_SQL = """
SELECT lang AS _id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CASE WHEN COUNT(n_chars) >= 2 THEN
         sqrt(CAST(COUNT(n_chars) * SUM(CAST(n_chars AS HUGEINT) * n_chars)
                   - SUM(CAST(n_chars AS HUGEINT)) * SUM(CAST(n_chars AS HUGEINT))
                   AS DOUBLE)
              / CAST(COUNT(n_chars) * (COUNT(n_chars) - 1) AS DOUBLE))
       END AS sd_samp,
       CASE WHEN COUNT(n_chars) >= 1 THEN
         sqrt(CAST(COUNT(n_chars) * SUM(CAST(n_chars AS HUGEINT) * n_chars)
                   - SUM(CAST(n_chars AS HUGEINT)) * SUM(CAST(n_chars AS HUGEINT))
                   AS DOUBLE)
              / CAST(COUNT(n_chars) * COUNT(n_chars) AS DOUBLE))
       END AS sd_pop
FROM documents GROUP BY lang
"""


def q_mql_agg_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$fill (verdict-r5 item 2): null out anio on every third ruling,
    then fill three ways in ONE stage over the original document —
    locf (last non-null carried forward), linear (interpolated on the
    doc_id axis, double output, edge nulls preserved), and a constant
    value fill. The oracle replays the exact window formulas; the
    linear arithmetic is written in the same evaluation order on both
    engines so the doubles compare bit-identically."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    r = _rulings(spark, sf_dir).withColumn(
        "anio_gap",
        F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(F.col("anio")),
    ).withColumn("anio_lin", F.col("anio_gap").cast("double"))
    out = mql_aggregate(
        r,
        [{"$fill": {
            "partitionBy": "$tipo",
            "sortBy": {"doc_id": 1},
            "output": {
                "anio_gap": {"method": "locf"},
                "anio_lin": {"method": "linear"},
                "texto": {"value": "missing"},
            },
        }}],
    )
    return out.select(
        "providencia", "tipo",
        F.col("anio_gap").cast("long").alias("anio_locf"),
        F.col("anio_lin").alias("anio_lin"),
    )


_MQL_FILL_SQL = f"""
WITH r AS (SELECT providencia, tipo, doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN NULL ELSE anio END AS anio_gap,
                  CAST(CASE WHEN doc_id % 3 = 0 THEN NULL ELSE anio END AS DOUBLE) AS v,
                  CAST(doc_id AS DOUBLE) AS s
           FROM ({_RULINGS_SQL})),
w AS (SELECT providencia, tipo, v, s,
             CAST(COALESCE(anio_gap, LAST_VALUE(anio_gap IGNORE NULLS) OVER (
                 PARTITION BY tipo ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS anio_locf,
             LAST_VALUE(v IGNORE NULLS) OVER (
                 PARTITION BY tipo ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN s END IGNORE NULLS) OVER (
                 PARTITION BY tipo ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
             FIRST_VALUE(v IGNORE NULLS) OVER (
                 PARTITION BY tipo ORDER BY doc_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN s END IGNORE NULLS) OVER (
                 PARTITION BY tipo ORDER BY doc_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ns
      FROM r)
SELECT providencia, tipo, anio_locf,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN pv + (nv - pv) * (s - ps) / (ns - ps)
       END AS anio_lin
FROM w
"""


QUERIES = {
    "a2_distinct_tipo": (
        q_a2_distinct_tipo,
        "SELECT DISTINCT source AS tipo FROM documents ORDER BY tipo",
    ),
    "a2_distinct_anio": (
        q_a2_distinct_anio,
        "SELECT DISTINCT CAST(2000 + doc_id % 25 AS BIGINT) AS anio FROM documents ORDER BY anio",
    ),
    "a4_facet_providencia": (
        q_a4_facet_providencia,
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) WHERE providencia = 'P-42'",
    ),
    "a5_facet_tipo": (
        q_a5_facet_tipo,
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) WHERE tipo = 'src3'",
    ),
    "a6_facet_anio": (
        q_a6_facet_anio,
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) WHERE anio = 2003",
    ),
    "a8_cascade_precedence": (
        q_a8_cascade_precedence,
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) WHERE providencia = 'P-10'",
    ),
    "a8_conjunctive_extension": (
        q_a8_conjunctive_extension,
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) WHERE tipo = 'src3' AND anio = 2003",
    ),
    "a7_text_search": (
        q_a7_text_search,
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) "
        f"WHERE len(list_intersect({_TOKENS_SQL.format(col='texto')}, "
        f"['merge', 'window'])) > 0",
    ),
    "a7_search_extended": (
        q_a7_search_extended,
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) "
        f"WHERE contains(' ' || array_to_string({_TOKENS_SQL.format(col='texto')}, ' ') || ' ', ' the ') "
        f"AND NOT len(list_intersect({_TOKENS_SQL.format(col='texto')}, ['error'])) > 0",
    ),
    "a7_search_phrase_indexed": (q_a7_search_phrase_indexed, _PHRASE_INDEXED_SQL),
    "a7_search_phrase": (
        q_a7_search_phrase,
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) "
        f"WHERE contains(' ' || array_to_string({_TOKENS_SQL.format(col='texto')}, ' ') || ' ', ' table hash ')",
    ),
    "a7_search_negation": (
        q_a7_search_negation,
        f"SELECT {_RESULT_COLS} FROM ({_RULINGS_SQL}) "
        f"WHERE len(list_intersect({_TOKENS_SQL.format(col='texto')}, ['merge'])) > 0 "
        f"AND NOT len(list_intersect({_TOKENS_SQL.format(col='texto')}, ['window'])) > 0",
    ),
    "a7_search_ranked": (
        q_a7_search_ranked,
        f"SELECT providencia, CAST(len(list_intersect(list_distinct("
        f"{_TOKENS_SQL.format(col='text')}), ['merge', 'window', 'shuffle'])) AS BIGINT) AS score "
        f"FROM (SELECT 'P-' || CAST(doc_id AS VARCHAR) AS providencia, text FROM documents) "
        f"WHERE score > 0 ORDER BY score DESC, providencia ASC LIMIT 15",
    ),
    "a7_search_ranked_tf": (
        q_a7_search_ranked_tf,
        _A7_RANKED_TF_SQL.format(toks=_TOKENS_SQL.format(col="text")),
    ),
    "a7_search_stemmed": (q_a7_search_stemmed, _stemmed_search_sql()),
    "a7_search_stemmed_en": (q_a7_search_stemmed_en, _stemmed_search_en_sql()),
    "mql_in_tipo": (q_mql_in_tipo, _MQL_IN_SQL),
    "mql_range_anio": (q_mql_range_anio, _MQL_RANGE_SQL),
    "mql_or_text": (q_mql_or_text, _MQL_OR_TEXT_SQL),
    "mql_regex_providencia": (q_mql_regex, _MQL_REGEX_SQL),
    "mql_nin_not_exists": (q_mql_nin_not, _MQL_NIN_NOT_SQL),
    "mql_array_operators": (q_mql_array_operators, _MQL_ARRAY_SQL),
    "mql_cursor_surface": (q_mql_cursor_surface, _MQL_CURSOR_SQL),
    "mql_text_score_cursor": (q_mql_text_score, _MQL_TEXT_SCORE_SQL),
    "mql_agg_facet_counts": (q_mql_agg_facet_counts, _MQL_AGG_FACET_SQL),
    "mql_count_documents": (q_mql_count_documents, _MQL_COUNT_SQL),
    "mql_agg_sort_by_count": (q_mql_agg_sort_by_count, _MQL_SORT_BY_COUNT_SQL),
    "mql_agg_lookup": (q_mql_agg_lookup, _MQL_LOOKUP_SQL),
    "mql_graph_lookup": (q_mql_graph_lookup, _MQL_GRAPH_LOOKUP_SQL),
    "mql_agg_merge": (q_mql_agg_merge, _MQL_MERGE_SQL),
    "mql_agg_bucket_auto": (q_mql_bucket_auto, _MQL_BUCKET_AUTO_SQL),
    "mql_agg_bucket_auto_granularity": (
        q_mql_bucket_auto_granularity, _MQL_BUCKET_AUTO_GRAN_SQL,
    ),
    "mql_agg_bucket_auto_e24": (
        q_mql_bucket_auto_e24, _MQL_BUCKET_AUTO_E24_SQL,
    ),
    "mql_agg_top_tokens": (q_mql_agg_top_tokens, _MQL_AGG_TOKENS_SQL),
    "mql_agg_bucket": (q_mql_agg_bucket, _MQL_BUCKET_SQL),
    "mql_distinct_filtered": (q_mql_distinct_filtered, _MQL_DISTINCT_SQL),
    "mql_agg_project_computed": (q_mql_agg_project_computed, _MQL_PROJECT_COMPUTED_SQL),
    "mql_agg_sample": (q_mql_agg_sample, _MQL_SAMPLE_SQL),
    "mql_agg_group_compound": (q_mql_agg_group_compound, _MQL_GROUP_COMPOUND_SQL),
    "mql_agg_add_fields": (q_mql_agg_add_fields, _MQL_ADD_FIELDS_SQL),
    "mql_agg_union_with": (q_mql_agg_union_with, _MQL_UNION_WITH_SQL),
    "mql_agg_push_sets": (q_mql_agg_push_sets, _MQL_PUSH_SETS_SQL),
    "mql_agg_facet": (q_mql_agg_facet, _MQL_FACET_SQL),
    "mql_agg_window_fields": (q_mql_agg_window_fields, _MQL_WINDOW_FIELDS_SQL),
    "mql_agg_densify": (q_mql_agg_densify, _MQL_DENSIFY_SQL),
    "mql_agg_densify_time": (q_mql_agg_densify_time, _MQL_DENSIFY_TIME_SQL),
    "mql_agg_date_ops": (q_mql_agg_date_ops, _MQL_DATE_OPS_SQL),
    "mql_agg_stddev": (q_mql_agg_stddev, _MQL_STDDEV_SQL),
    "mql_agg_switch": (q_mql_agg_switch, _MQL_SWITCH_SQL),
    "mql_unwind_indexed": (q_mql_unwind_indexed, _MQL_UNWIND_SQL),
    "mql_agg_topn": (q_mql_agg_topn, _MQL_TOPN_SQL),
    "mql_cursor_slice": (q_mql_cursor_slice, _MQL_SLICE_SQL),
    "mql_array_expr": (q_mql_array_expr, _MQL_ARRAY_EXPR_SQL),
    "mql_hof_expr": (q_mql_hof_expr, _MQL_HOF_SQL),
    "mql_date_math": (q_mql_date_math, _MQL_DATE_MATH_SQL),
    "mql_agg_first_last": (q_mql_first_last, _MQL_FIRST_LAST_SQL),
    "mql_string_expr": (q_mql_string_expr, _MQL_STRING_SQL),
    "mql_object_expr": (q_mql_object_expr, _MQL_OBJECT_SQL),
    "mql_regex_expr": (q_mql_regex_expr, _MQL_REGEX_EXPR_SQL),
    "mql_agg_percentile": (q_mql_agg_percentile, _MQL_PERCENTILE_SQL),
    "mql_window_percentile": (q_mql_window_percentile, _MQL_WINDOW_PCT_SQL),
    "mql_date_trunc_bins": (q_mql_date_trunc_bins, _MQL_DATE_TRUNC_BINS_SQL),
    "mql_window_range_days": (q_mql_window_range_days, _MQL_WINDOW_RANGE_DAYS_SQL),
    "mql_window_range_months": (
        q_mql_window_range_months, _MQL_WINDOW_RANGE_MONTHS_SQL,
    ),
    "mql_date_trunc_week_bins": (
        q_mql_date_trunc_week_bins, _MQL_DATE_TRUNC_WEEK_SQL,
    ),
    "mql_date_trunc_timezone": (
        q_mql_date_trunc_timezone, _MQL_DATE_TRUNC_TZ_SQL,
    ),
    "mql_group_merge_objects": (
        q_mql_group_merge_objects, _MQL_GROUP_MERGE_OBJECTS_SQL,
    ),
    "mql_window_covariance": (q_mql_window_covariance, _MQL_WINDOW_COV_SQL),
    "mql_window_exp_moving_avg": (q_mql_window_ema, _MQL_WINDOW_EMA_SQL),
    "mql_iso_date_parts": (q_mql_iso_date_parts, _MQL_ISO_DATE_SQL),
    "mql_lookup_pipeline": (q_mql_lookup_pipeline, _MQL_LOOKUP_PIPELINE_SQL),
    "mql_datetime_expr": (q_mql_datetime_expr, _MQL_DATETIME_SQL),
    "mql_agg_derivative_integral": (q_mql_agg_derivative_integral, _MQL_DERIV_INT_SQL),
    "mql_derivative_time_rate": (q_mql_derivative_time_rate, _MQL_DERIV_TIME_SQL),
    "mql_agg_replace_root": (q_mql_agg_replace_root, _MQL_REPLACE_ROOT_SQL),
    "mql_agg_unset": (q_mql_agg_unset, _MQL_UNSET_SQL),
    "mql_agg_fill": (q_mql_agg_fill, _MQL_FILL_SQL),
    "a7_search_postings_or": (q_a7_search_postings_or, _POSTINGS_OR_SQL),
    "a7_search_postings_stemmed": (q_a7_search_postings_stemmed, _stemmed_postings_sql()),
    "a7_search_postings_and": (q_a7_search_postings_and, _POSTINGS_AND_SQL),
    "a7_search_fuzzy": (q_a7_search_fuzzy, _FUZZY_SQL),
    "a7_search_prefix": (q_a7_search_prefix, _PREFIX_SQL),
    "a7_search_bm25": (q_a7_search_bm25, _BM25_SQL),
    "a9_list_nodes": (
        q_a9_list_nodes,
        "SELECT 'P-' || CAST(doc_id AS VARCHAR) AS id FROM documents ORDER BY id",
    ),
    "a10_neighborhood": (q_a10_neighborhood, _A10_SQL),
    "cypher_varlen_expansion": (q_cypher_varlen, _CYPHER_VARLEN_SQL),
    "cypher_shortest_path": (q_cypher_shortest_path, _CYPHER_SHORTEST_SQL),
    "cypher_undirected_expansion": (q_cypher_undirected, _CYPHER_UNDIRECTED_SQL),
    "cypher_multi_anchor": (q_cypher_multi_anchor, _CYPHER_MULTI_ANCHOR_SQL),
    "cypher_degree_counts": (q_cypher_degree_counts, _CYPHER_DEGREE_SQL),
    "cypher_node_predicate": (q_cypher_node_predicate, _CYPHER_NODE_PRED_SQL),
    "cypher_two_hop_motif": (q_cypher_two_hop_motif, _CYPHER_TWO_HOP_SQL),
    "cypher_generic_3hop": (q_cypher_generic_3hop, _CYPHER_GENERIC_3HOP_SQL),
    "cypher_return_node_props": (q_cypher_return_node_props, _CYPHER_NODE_PROPS_SQL),
    "cypher_agg_stats": (q_cypher_agg_stats, _CYPHER_AGG_STATS_SQL),
    "cypher_optional_match": (q_cypher_optional_match, _CYPHER_OPTIONAL_SQL),
    "cypher_with_having": (q_cypher_with_having, _CYPHER_WITH_HAVING_SQL),
    "cypher_count_distinct": (q_cypher_count_distinct, _CYPHER_COUNT_DISTINCT_SQL),
    "cypher_collect_neighbors": (q_cypher_collect, _CYPHER_COLLECT_SQL),
    "cypher_topk_neighbors": (q_cypher_topk_neighbors, _CYPHER_TOPK_SQL),
    "cypher_global_topk": (q_cypher_global_topk, _CYPHER_GLOBAL_TOPK_SQL),
    "cypher_return_computed": (q_cypher_return_computed, _CYPHER_RETURN_COMPUTED_SQL),
    "cypher_union": (q_cypher_union, _CYPHER_UNION_SQL),
    "cypher_exists_guard": (q_cypher_exists_guard, _CYPHER_EXISTS_GUARD_SQL),
    "cypher_pattern_predicate": (q_cypher_pattern_predicate, _CYPHER_PATTERN_PRED_SQL),
    "cypher_branching_pattern": (q_cypher_branching_pattern, _CYPHER_BRANCHING_SQL),
    "cypher_computed_where": (q_cypher_computed_where, _CYPHER_COMPUTED_WHERE_SQL),
    "cypher_with_chain": (q_cypher_with_chain, _CYPHER_WITH_CHAIN_SQL),
    "cypher_unwind_anchor": (q_cypher_unwind_anchor, _CYPHER_UNWIND_ANCHOR_SQL),
    "cypher_optional_two_hop": (
        q_cypher_optional_two_hop, _CYPHER_OPTIONAL_TWO_HOP_SQL,
    ),
    "cypher_all_shortest_paths": (
        q_cypher_all_shortest_paths, _CYPHER_ALL_SHORTEST_SQL,
    ),
    "cypher_cheapest_path": (q_cypher_cheapest_path, _CYPHER_CHEAPEST_SQL),
    "cypher_scalar_fns": (q_cypher_scalar_fns, _CYPHER_SCALAR_FNS_SQL),
    "cypher_optional_varlen": (
        q_cypher_optional_varlen, _CYPHER_OPTIONAL_VARLEN_SQL,
    ),
    "cypher_unanchored_varlen": (
        q_cypher_unanchored_varlen, _CYPHER_UNANCHORED_VARLEN_SQL,
    ),
    "cypher_stats_aggregates": (
        q_cypher_stats_aggregates, _CYPHER_STATS_AGGS_SQL,
    ),
    "cypher_order_by_expr": (q_cypher_order_by_expr, _CYPHER_ORDER_EXPR_SQL),
    "cypher_optional_varlen_computed": (
        q_cypher_optional_varlen_computed, _CYPHER_OPTIONAL_VARLEN_COMPUTED_SQL,
    ),
    "cypher_optional_varlen_exists": (
        q_cypher_optional_varlen_exists, _CYPHER_OPTIONAL_VARLEN_EXISTS_SQL,
    ),
    "cypher_optional_carried_guard": (
        q_cypher_optional_carried_guard, _CYPHER_OPTIONAL_CARRIED_GUARD_SQL,
    ),
    "cypher_optional_exists": (
        q_cypher_optional_exists, _CYPHER_OPTIONAL_EXISTS_SQL,
    ),
}
