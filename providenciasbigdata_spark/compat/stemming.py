"""Stemming facade for the $text surface — full Snowball.

The reference's Mongo text index stems per-language server-side
(reference streamlit_app.py:147 — db `transcripciones` holds Spanish
legal text), so "providencias" finds documents containing
"providencia". The algorithms (Spanish, English/Porter2) live in
compat/snowball.py; this module exposes them on two surfaces:

  * ``stem_py``   — the Python reference: query terms client-side, and
                    the function every other surface is pinned to;
  * ``stem_col``  — the ONLY code that stems Spark data: ``stem_py``
                    as one scalar Arrow (pandas) UDF, null in, null
                    out;
  * ``stems_sql`` — the identical algorithm as DuckDB SQL, generated
                    from the same step tables, so stemmed queries stay
                    oracle-checkable end to end (the oracle stems BOTH
                    document tokens and the literal query terms).

Corpus-side stemming always runs at VOCABULARY size: stemmed search
expands each query stem into its corpus preimage tokens by stemming
the distinct-token vocabulary (compat/documents.py::
stem_vocab_preimages), and the stemmed postings index stems the
token dictionary (operators/postings.py::stem_postings). The scan
predicate stays a plain token overlap.

``stem_py`` == ``stems_sql`` and ``stem_col`` == ``stem_py`` are
pinned over adversarial suffix-biased word lists
(tests/test_snowball.py) and a Hypothesis property with
conjugation-biased generators (tests/test_properties.py).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves the stringized
                     # 'pd.Series' hints (future-annotations) via module globals
from pyspark.sql import Column
from pyspark.sql import functions as F

from providenciasbigdata_spark.compat import snowball

_ALIASES = {
    "es": "spanish", "spanish": "spanish", "español": "spanish",
    "espanol": "spanish",
    "en": "english", "english": "english",
}

#: languages with a full Snowball implementation
LANGUAGES = ("spanish", "english")


def normalize_language(language) -> str:
    """Mongo ``$language`` value -> canonical algorithm key; unknown
    languages raise ``ValueError`` (no algorithm — never silently
    unstemmed)."""
    key = _ALIASES.get(str(language).lower())
    if key is None:
        raise ValueError(
            f"unsupported stemming language {language!r}; have {sorted(LANGUAGES)}"
        )
    return key


def stem_py(token: str, language: str = "spanish") -> str:
    """Stem one token (full Snowball; input is folded internally so
    pre-folded B1 tokens and raw accented text agree)."""
    return snowball.stem_word_py(token, normalize_language(language))


def stem_col(t: Column, language: str = "spanish") -> Column:
    """``stem_py`` over a string Column as one scalar Arrow UDF
    (Arrow-batched; null tokens stay null)."""
    lang = normalize_language(language)

    @F.pandas_udf("string")
    def _stem(tokens: pd.Series) -> pd.Series:
        return tokens.map(
            lambda w: snowball.stem_word_py(w, lang), na_action="ignore"
        )

    return _stem(t)


def stems_sql(list_expr: str, var: str = "snowtok", language: str = "spanish") -> str:
    """DuckDB SQL twin of ``stem_py`` applied element-wise to a
    token-list expression — generated from the SAME step tables, so
    the oracle checks the exact engine semantics."""
    return snowball.stem_list_sql(list_expr, normalize_language(language), var=var)
