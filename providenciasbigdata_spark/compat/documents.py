"""Document-collection query surface (reference parity, Mongo side).

Re-expresses the reference's facet + full-text page
(reference streamlit_app.py:109-148) over a columnar ``documents``
table. Field mapping is pinned in FIXTURES.md §1:

    providencia = 'P-' || doc_id      (ruling id)
    tipo        = source              (ruling type, low-cardinality)
    anio        = 2000 + doc_id % 25  (year)
    texto       = text                (transcription body)

Operator citations (SURVEY.md §2.2):
  A2  distinct_values   — reference streamlit_app.py:26-27
  A4-A6 filter_equals   — reference streamlit_app.py:138,141,144
  A7/B1 search_text     — reference streamlit_app.py:147 ($text)
  A8  query_cascade     — reference streamlit_app.py:137-148
  A12 to_result_frame   — reference streamlit_app.py:36-41

Scale notes: at 100TB the rulings table is Parquet partitioned by
``anio`` (partition pruning covers the A6 facet) and ``tokens`` is
materialized at ingest so the text predicate is a native array op on a
scanned column — never a per-query UDF (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The reference renders empty result sets as a 1-column sentinel frame
# (reference streamlit_app.py:41).
EMPTY_SENTINEL_COLUMN = "No hay resultados"

# Latin accent fold table — JVM-side translate (no UDF) keeps the
# tokenizer inside whole-stage codegen. Matches DuckDB strip_accents on
# the Latin-1/Latin-Extended range used by Spanish legal text.
_ACCENTED = "áàâäãåÁÀÂÄÃÅéèêëÉÈÊËíìîïÍÌÎÏóòôöõÓÒÔÖÕúùûüÚÙÛÜñÑçÇýÿÝ"
_PLAIN = "aaaaaaAAAAAAeeeeEEEEiiiiIIIIoooooOOOOOuuuuUUUUnNcCyyY"


def unaccent(col: Column) -> Column:
    """Fold Latin diacritics, JVM-side (SURVEY.md B1)."""
    return F.translate(col, _ACCENTED, _PLAIN)


def tokenize(col: Column) -> Column:
    """lowercase + unaccent + split on non-word runs, drop empties.

    This pins the engine's text-search tokenization (SURVEY.md B1):
    Mongo's stemming/phrase behavior is index-config-dependent and not
    observable from the reference repo, so the documented contract is
    plain OR-of-terms keyword match.
    """
    toks = F.split(unaccent(F.lower(col)), r"\W+")
    return F.filter(toks, lambda t: t != F.lit(""))


def rulings_view(documents: DataFrame) -> DataFrame:
    """Project the fixture ``documents`` table into the reference's
    ruling fields (FIXTURES.md §1 pinned mapping) + a ``tokens`` column
    (ingest-time tokenization, SURVEY.md §4.3)."""
    return documents.select(
        F.col("doc_id"),
        F.concat(F.lit("P-"), F.col("doc_id").cast("string")).alias("providencia"),
        F.col("source").alias("tipo"),
        (F.lit(2000) + F.col("doc_id") % 25).cast("int").alias("anio"),
        F.col("text").alias("texto"),
        tokenize(F.col("text")).alias("tokens"),
    )


def distinct_values(df: DataFrame, field: str) -> DataFrame:
    """A2: unique values of one field, ascending.

    ``collection.distinct(field)`` + client-side ``sorted()``
    (reference streamlit_app.py:26-27). Distinct lowers to a hash
    aggregate with map-side partial dedup; the sort is a final
    range-partitioned sort on already-tiny data.
    """
    return df.select(field).distinct().orderBy(field)


def filter_equals(df: DataFrame, field: str, value) -> DataFrame:
    """A4-A6: single equality predicate (reference
    streamlit_app.py:138,141,144). Pushed down to the Parquet scan;
    with anio-partitioned storage the A6 case is partition pruning.
    ``value`` is compared as given; ``query_cascade`` pins the
    reference's dynamic year type to ``int`` (``cascade_predicates``)."""
    return df.filter(F.col(field) == F.lit(value))


def stem_vocab_preimages(
    df: DataFrame,
    stemmed_terms: list[str],
    tokens_col: str,
    language: str,
) -> list[str]:
    """Corpus-restricted preimage set of stemmed query terms — the
    dictionary trick every stemmed search index uses: stem the
    DISTINCT-token vocabulary (one explode+distinct aggregate;
    vocabulary-sized work however big the corpus) and keep the tokens
    whose stem is in the query's stem set. The stem UDF
    (compat.stemming.stem_col) and the filter run inside the job, so
    only the matching preimages — bounded by the corpus forms of the
    query terms — reach the driver.

    Returns a sorted literal list for a plain ``arrays_overlap`` scan
    predicate — the SAME plan shape as the unstemmed B1 search. Costs
    one vocabulary job at query build; an empty stem set costs none."""
    from providenciasbigdata_spark.compat.stemming import stem_col

    want = sorted(set(stemmed_terms))
    if not want:
        return []
    vocab = df.select(F.explode(F.col(tokens_col)).alias("t")).distinct()
    matched = vocab.filter(stem_col(F.col("t"), language).isin(*want))
    return sorted(r["t"] for r in matched.collect())


def text_match_condition(
    query: str,
    tokens_col: str = "tokens",
    stem: bool | str = False,
    vocab_df: DataFrame | None = None,
) -> Column:
    """Mongo ``$text.$search`` matching as ONE composable Column — the
    building block ``search_text`` filters on, and what compat.ir uses
    to place ``$text`` inside ``$and``/``$or`` compositions.

    Full Mongo $search grammar (MongoDB text-search docs; reference
    accepts all of it through streamlit_app.py:147):

    - bare terms: logical OR (the original B1 contract);
    - ``"quoted phrases"``: every phrase must appear as a contiguous
      TOKEN SEQUENCE (not a raw substring — "the cat" must not match
      "the category"); when any phrase is present, Mongo matches on
      the phrases alone and bare terms only influence relevance, so
      the match condition here is AND-of-phrases;
    - ``-negated`` terms: documents containing them are excluded; a
      query with no positive part (only negations / empty) matches
      nothing, as in Mongo.

    Stemming (``stem=True`` = Spanish, or a language name) applies to
    bare and negated terms, never to phrases: Mongo matches phrases
    against the raw (folded) token stream. It is dictionary
    expansion: each query stem is replaced by its preimage tokens in
    the vocabulary of ``vocab_df`` (see ``stem_vocab_preimages``), so
    the scan predicate stays a plain token overlap. A stemmed
    condition needs that frame: ``stem`` without ``vocab_df`` raises
    ``ValueError``, as does a language with no stemmer.

    The phrase predicate stays JVM-side with the same single-scan
    shape: ``' '||concat_ws(' ',tokens)||' ' CONTAINS ' p q '`` —
    space-padding makes substring == token-sequence equality.
    """
    import re

    if stem:
        from providenciasbigdata_spark.compat.stemming import (
            normalize_language,
            stem_py,
        )

        if vocab_df is None:
            raise ValueError(
                "a stemmed $text condition needs vocab_df, the frame "
                "whose token vocabulary the query stems expand over"
            )
        # stem may be the legacy bool (True = the reference collection's
        # Spanish) or a language name ("english" = Mongo's own default
        # text-index language)
        lang = "spanish" if stem is True else normalize_language(stem)
    terms, phrases, negated = parse_search_query(query)
    # a phrase that folds to zero tokens (pure punctuation) cannot
    # constrain anything — drop it before deciding if a positive
    # part exists at all
    phrase_toks = [
        ptoks for p in phrases if (ptoks := [t for t in re.split(r"\W+", p) if t])
    ]
    if not terms and not phrase_toks:
        return F.lit(False)
    if stem:
        terms = stem_vocab_preimages(
            vocab_df, [stem_py(t, lang) for t in terms], tokens_col, lang
        )
        negated = stem_vocab_preimages(
            vocab_df, [stem_py(t, lang) for t in negated], tokens_col, lang
        )
    tokens = F.col(tokens_col)
    if phrase_toks:
        padded = F.concat(F.lit(" "), F.concat_ws(" ", tokens), F.lit(" "))
        cond = F.lit(True)
        for ptoks in phrase_toks:
            cond = cond & padded.contains(" " + " ".join(ptoks) + " ")
    elif not terms:
        # dictionary expansion can empty the positive set (no corpus
        # token stems to any query stem) — match nothing, like Mongo
        return F.lit(False)
    else:
        cond = F.arrays_overlap(tokens, F.array(*[F.lit(t) for t in terms]))
    if negated:
        cond = cond & ~F.arrays_overlap(
            tokens, F.array(*[F.lit(t) for t in negated])
        )
    return cond


def search_text(
    df: DataFrame, query: str, tokens_col: str = "tokens", stem: bool | str = False
) -> DataFrame:
    """A7/B1: keyword search — match ANY query term (OR),
    case/diacritic-insensitively; unranked (SURVEY.md B6). The full
    ``$search`` grammar (quoted phrases, -negation) applies; see
    ``text_match_condition``.

    ``{"$text": {"$search": q}}`` (reference streamlit_app.py:147).
    Query terms fold client-side into an array literal; the predicate
    is a native ``arrays_overlap`` over the ingest-time tokens column.

    ``stem=True`` reproduces the Spanish-stemmed matching of the
    reference's Mongo text index (language-default index on Spanish
    legal text): query terms stem client-side and expand to their
    preimage tokens in ``df``'s vocabulary — vocabulary-sized work,
    and the scan predicate stays a plain token overlap — all through
    the SAME full-Snowball algorithm (compat.snowball), so
    "providencias" matches "providencia". The unstemmed contract stays
    the default (B1 pin)."""
    return df.filter(
        text_match_condition(query, tokens_col, stem=stem, vocab_df=df)
    )


def _fold(text: str) -> str:
    import unicodedata

    folded = unicodedata.normalize("NFKD", text.lower())
    return "".join(c for c in folded if not unicodedata.combining(c))


def parse_search_query(query: str) -> tuple[list[str], list[str], list[str]]:
    """Mongo-style query syntax: bare terms (OR), "quoted phrases"
    (must ALL appear), -negated terms (must NOT appear). Returns
    (terms, phrases, negated), case/accent-folded."""
    import re

    phrases = [_fold(p) for p in re.findall(r'"([^"]+)"', query)]
    rest = re.sub(r'"[^"]+"', " ", query)
    terms, negated = [], []
    for raw in re.split(r"\s+", rest):
        if not raw:
            continue
        if raw.startswith("-") and len(raw) > 1:
            negated.extend(t for t in re.split(r"\W+", _fold(raw[1:])) if t)
        else:
            terms.extend(t for t in re.split(r"\W+", _fold(raw)) if t)
    return terms, phrases, negated


def text_score_column(query: str, tokens_col: str = "tokens") -> Column:
    """Relevance score for ``{"$meta": "textScore"}`` projections: the
    number of DISTINCT positive bare terms present — the same B6
    contract ``search_text_ranked`` ranks by (phrases and negations
    gate the match but do not add to the score). DOCUMENTED
    DIVERGENCE: Mongo's own textScore is an index-weighted tf sum
    whose weights live in the text-index definition — unobservable
    from the reference repo — so we pin the deterministic
    token-overlap score instead."""
    terms, _phrases, _negated = parse_search_query(query)
    if not terms:
        return F.lit(0).cast("long")
    qarr = F.array(*[F.lit(t) for t in dict.fromkeys(terms)])
    return F.size(
        F.array_intersect(F.array_distinct(F.col(tokens_col)), qarr)
    ).cast("long")


def text_score_tf_column(
    query: str,
    tokens_col: str = "tokens",
    weight: float = 1.0,
) -> Column:
    """Mongo-SHAPED tf-weighted relevance (round 7, verdict-r6 missing
    item 5): per matched query term ``t`` with count ``c_t`` among the
    field's ``N`` tokens, contribution ``weight * (0.5 * c_t / N +
    0.5)`` — the coefficient structure of Mongo's v2 text scorer
    (public mongodb source, fts/fts_spec.cpp::_scoreStringV2: ``coeff
    = 0.5 * count / numTokens + (exact ? 0.5 : 0)``; on this unstemmed
    surface every match is its own exact form, so the exact bonus
    always applies). Still a DOCUMENTED DIVERGENCE from Mongo's actual
    numbers — index weights and multi-field aggregation live in the
    unobservable text-index definition — but tf-shaped where the
    pinned default is plain distinct-term overlap.

    Value-hash-safe: terms contribute in QUERY ORDER via chained
    addition (no unordered SUM), and each contribution is one IEEE
    multiply-divide chain both engines evaluate identically."""
    terms, _phrases, _negated = parse_search_query(query)
    score = F.lit(0.0)
    n = F.size(F.col(tokens_col))

    def _eq(term):
        # closure factory, never default args (the documented HOF trap:
        # a defaulted second parameter would receive the array INDEX)
        def body(x):
            return x == F.lit(term)

        return body

    for t in dict.fromkeys(terms):
        c = F.size(F.filter(F.col(tokens_col), _eq(t)))
        part = F.lit(weight) * (
            F.lit(0.5) * c.cast("double") / n.cast("double") + F.lit(0.5)
        )
        score = score + F.when(c > 0, part).otherwise(F.lit(0.0))
    return score


def search_text_ranked(
    df: DataFrame,
    query: str,
    k: int | None = None,
    tokens_col: str = "tokens",
    weighting: str = "overlap",
) -> DataFrame:
    """B6 extension (SURVEY §2.5 C-X4): relevance score + optional
    top-k. The match follows the full ``$search`` grammar
    (``text_match_condition``: phrases, -negation); the score is the
    ``$meta: textScore`` one. Default ``weighting="overlap"`` = number
    of DISTINCT positive bare terms present (``text_score_column``,
    the round-2 pinned contract); ``weighting="tf"`` = the
    Mongo-shaped tf score of ``text_score_tf_column``. Ties broken by
    providencia for a total order. The compat search stays unranked —
    ranking is opt-in."""
    if weighting == "tf":
        score = text_score_tf_column(query, tokens_col)
    elif weighting == "overlap":
        score = text_score_column(query, tokens_col)
    else:
        raise ValueError(f"unknown weighting {weighting!r}; use 'overlap' or 'tf'")
    ranked = (
        df.filter(text_match_condition(query, tokens_col))
        .withColumn("score", score)
        .orderBy(F.desc("score"), F.asc("providencia"))
    )
    return ranked.limit(k) if k else ranked


# The reference's filter dispatch (streamlit_app.py:137-148): each field
# in precedence order, with the test that makes its predicate apply.
_CASCADE = (
    ("providencia", bool),
    ("tipo", bool),
    ("anio", lambda v: v is not None and v != ""),
    ("texto", bool),
)


def cascade_predicates(
    providencia: str | None = None,
    tipo: str | None = None,
    anio: int | str | None = None,
    texto: str | None = None,
    conjunctive: bool = False,
) -> dict:
    """The predicates ``query_cascade`` applies, as {field: value} in
    precedence order: the first field given, or with ``conjunctive``
    every one. ``anio`` is coerced with ``int`` (SURVEY.md §1.4), so a
    malformed year applied raises ``ValueError``."""
    given = {"providencia": providencia, "tipo": tipo, "anio": anio, "texto": texto}
    active = {}
    for field, applies in _CASCADE:
        if applies(given[field]):
            active[field] = int(given[field]) if field == "anio" else given[field]
            if not conjunctive:
                break
    return active


def query_cascade(
    df: DataFrame,
    providencia: str | None = None,
    tipo: str | None = None,
    anio: int | str | None = None,
    texto: str | None = None,
    conjunctive: bool = False,
    stem: bool = False,
) -> DataFrame:
    """A8: the reference's filter dispatch.

    Compat mode (default) preserves the quirk at reference
    streamlit_app.py:137-148: an exclusive if/elif cascade with
    precedence providencia > tipo > anio > texto — exactly ONE
    predicate applies; filters never compose.

    ``conjunctive=True`` is the documented extension: AND of all
    provided predicates (what a user usually wants). ``stem=True``
    applies the Spanish full-Snowball stemmer to the texto match.
    Which predicates apply is ``cascade_predicates``.
    """
    predicates = cascade_predicates(providencia, tipo, anio, texto, conjunctive)
    return apply_cascade(df, predicates, stem=stem)


def apply_cascade(df: DataFrame, predicates: dict, stem: bool = False) -> DataFrame:
    """``df`` filtered by ``cascade_predicates``' answer: each field's
    equality, ``texto`` as ``search_text``."""
    out = df
    for field, value in predicates.items():
        if field == "texto":
            out = search_text(out, value, stem=stem)
        else:
            out = filter_equals(out, field, value)
    return out


def to_result_frame(df: DataFrame, drop_cols: tuple[str, ...] = ("doc_id", "tokens")):
    """A12: presentation-edge materialization.

    Mirrors reference streamlit_app.py:36-41: drop the storage key
    (``_id`` -> ``doc_id``) and internal columns, and return the
    1-column sentinel frame when empty. Returns a pandas DataFrame —
    this is the ONLY place the compat document path materializes;
    everything upstream stays lazy (contrast the reference's eager
    ``list(cursor)`` at streamlit_app.py:32). A ``session.LocalFrame``
    (the engine's ``query_rulings`` from its document block) drops and
    converts its held Arrow table on the driver: no Spark job, and no
    gateway call beyond ``toPandas``'s configuration reads.
    """
    import pandas as pd

    existing = [c for c in drop_cols if c in df.columns]
    pdf = df.drop(*existing).toPandas()
    if pdf.empty:
        return pd.DataFrame(columns=[EMPTY_SENTINEL_COLUMN])
    return pdf
