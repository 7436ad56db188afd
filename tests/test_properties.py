"""Hypothesis property tests for the text pipeline primitives.

Each example round-trips one generated document through Spark (1-row
DataFrame), so examples are capped low — the point is adversarial
inputs (unicode, punctuation runs, huge/empty tokens), not volume.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from providenciasbigdata_spark.functions import text as tx

# printable-ish text with unicode letters, digits, punctuation, spaces
_TEXT = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"), max_codepoint=0x2FF
    ),
    max_size=200,
)


@settings(max_examples=15, deadline=None)
@given(_TEXT)
def test_tokenize_contract(spark, s):
    """Tokens are lowercase, non-empty, \\w+-only, accent-folded."""
    row = (
        spark.createDataFrame([(s,)], "text string")
        .select(tx.tokenize(F.col("text")).alias("t"))
        .first()
    )
    for tok in row.t:
        assert tok and tok == tok.lower()
        assert re.fullmatch(r"\w+", tok), tok


@settings(max_examples=15, deadline=None)
@given(_TEXT, st.integers(2, 12), st.integers(0, 6))
def test_chunk_spans_properties(spark, s, chunk_size, overlap):
    """For ANY text and any valid (chunk_size, overlap): chunk ids are
    dense from 0, every chunk has 1..chunk_size tokens, consecutive
    chunks overlap by exactly `overlap` (except a shorter tail), and
    concatenating chunks at stride offsets reconstructs the tokens."""
    if overlap >= chunk_size:
        overlap = chunk_size - 1
    stride = chunk_size - overlap
    row = (
        spark.createDataFrame([(s,)], "text string")
        .select(tx.tokenize(F.col("text")).alias("toks"))
        .select(
            "toks", tx.chunk_spans(F.col("toks"), chunk_size, overlap).alias("c")
        )
        .first()
    )
    toks, chunks = row.toks, row.c
    if not toks:
        assert chunks == []
        return
    assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
    rebuilt = []
    for c in chunks:
        words = c.chunk_text.split(" ") if c.chunk_text else []
        assert 1 <= c.n_tokens <= chunk_size and len(words) == c.n_tokens
        assert words == toks[c.chunk_id * stride : c.chunk_id * stride + c.n_tokens]
        rebuilt = rebuilt[: c.chunk_id * stride] + words
    assert rebuilt == toks  # full coverage, no gaps


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(st.characters(whitelist_categories=("Ll",)), min_size=1, max_size=6), max_size=30))
def test_shingles_count(spark, words):
    """len(shingles(tokens, n)) == max(0, len(tokens) - n + 1)."""
    s = " ".join(words)
    row = (
        spark.createDataFrame([(s,)], "text string")
        .select(tx.tokenize(F.col("text")).alias("t"))
        .select(F.size("t").alias("n"), tx.shingles(F.col("t"), 3).alias("sh"))
        .first()
    )
    assert len(row.sh) == max(0, row.n - 2)


# lowercase ascii tokens like the post-tokenize stream the stemmer sees;
# biased toward full-Snowball table suffixes of BOTH languages —
# including CONJUGATION-shaped compositions (base + verb suffix
# [+ attached pronoun] for Spanish, base + -ing/-ed/-ies/-ization
# ladders for English) — so random tokens land on region boundaries,
# among-longest-match edges, and the step-0/2a/2b gating
def _all_suffixes():
    from providenciasbigdata_spark.compat import snowball as sb

    out = [""]
    out.extend(s for grp in sb.ES_STEP1 for s in grp[0])
    out.extend(sb.ES_STEP2A)
    out.extend(sb.ES_STEP2B)
    out.extend(sb.ES_STEP2B_GU)
    out.extend(s for s, _ in sb.EN_STEP2 + sb.EN_STEP3)
    out.extend(sb.EN_STEP4)
    out.extend(["ing", "ed", "ies", "ied", "sses", "s", "eed", "eedly", "y", "li"])
    return sorted(set(out))


def _pronouns():
    from providenciasbigdata_spark.compat import snowball as sb

    return [""] + list(sb.ES_PRONOUNS)


_STEM_PART = st.text(
    alphabet=st.sampled_from("abcdefghijklmnñopqrstuvwxyz"), min_size=0, max_size=10
)
# conjugation-biased: base ⊕ table suffix ⊕ (sometimes) attached pronoun
_TOKEN = st.one_of(
    _STEM_PART,
    st.tuples(
        _STEM_PART,
        st.sampled_from(_all_suffixes()),
        st.sampled_from(_pronouns()),
    ).map(lambda p: p[0] + p[1] + p[2]),
)


@pytest.mark.parametrize("language", ["spanish", "english"])
@settings(max_examples=10, deadline=None)
@given(tokens=st.lists(_TOKEN, min_size=1, max_size=20))
def test_stemmer_three_engine_parity_property(spark_stems, language, tokens):
    """stem_py is the reference; the Spark stem UDF (stem_col) runs it
    over a DataFrame and stems_sql is generated from the same rule
    tables. Adversarial random tokens (including ones landing exactly
    on suffix boundaries and min-stem edges) must agree across all
    three, for BOTH languages."""
    import duckdb

    from providenciasbigdata_spark.compat.stemming import stem_py

    want = [stem_py(t, language) for t in tokens]
    assert spark_stems(tokens, language) == want

    from providenciasbigdata_spark.compat.stemming import stems_sql

    lit = "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in tokens) + "]"
    got_duck = duckdb.sql(f"SELECT {stems_sql(lit, language=language)} AS st").fetchone()[0]
    assert got_duck == want


@pytest.mark.parametrize("language", ["spanish", "english"])
@settings(max_examples=10, deadline=None)
@given(tokens=st.lists(_TOKEN, min_size=1, max_size=12))
def test_stem_fold_invariance(language, tokens):
    """The stem key is a pure function of the FOLDED token (the B1
    stream the engine actually stores), so raw accented text and
    pre-folded tokens produce identical keys — what makes
    client-side query-term stemming and the vocabulary stemmed from
    the stored tokens interchangeable. Keys also never leak the Porter2
    consonant-y marking, and they never grow past the input (every
    Snowball action is a tail strip or a shortening replacement)."""
    from providenciasbigdata_spark.compat.snowball import fold
    from providenciasbigdata_spark.compat.stemming import stem_py

    for t in tokens:
        key = stem_py(t, language)
        assert key == stem_py(fold(t), language), (t, key)
        assert "Y" not in key
        assert len(key) <= len(fold(t))


# ---- Mongo $search grammar (compat/documents.py) --------------------------

_VOCAB = ["merge", "window", "hash", "tablá", "agg"]

_SEARCH_PIECE = st.one_of(
    st.sampled_from(_VOCAB),                                   # bare term
    st.sampled_from(_VOCAB).map(lambda w: f"-{w}"),            # negation
    st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=2)  # phrase
    .map(lambda ws: '"' + " ".join(ws) + '"'),
)
_SEARCH_QUERY = st.lists(_SEARCH_PIECE, max_size=4).map(" ".join)
_DOC_TOKENS = st.lists(
    st.sampled_from([w.replace("á", "a") for w in _VOCAB] + ["other"]),
    max_size=6,
)


def _search_model(tokens: list[str], query: str) -> bool:
    """Pure-Python Mongo $search semantics (phrases = contiguous token
    runs and override bare terms; negation subtracts; no positive part
    matches nothing) — the spec text_match_condition must agree with."""
    from providenciasbigdata_spark.compat.documents import parse_search_query

    terms, phrases, negated = parse_search_query(query)
    phrase_toks = [
        pt for p in phrases if (pt := [t for t in re.split(r"\W+", p) if t])
    ]
    if not terms and not phrase_toks:
        return False
    if phrase_toks:
        pos = all(
            any(tokens[i:i + len(pt)] == pt for i in range(len(tokens) - len(pt) + 1))
            for pt in phrase_toks
        )
    else:
        pos = any(t in tokens for t in terms)
    return pos and not any(t in tokens for t in negated)


@settings(max_examples=25, deadline=None)
@given(st.lists(_DOC_TOKENS, min_size=1, max_size=5), _SEARCH_QUERY)
def test_search_grammar_matches_mongo_model(spark, docs, query):
    from providenciasbigdata_spark.compat.documents import text_match_condition

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "rid int, text string",
    ).select("rid", tx.tokenize(F.col("text")).alias("tokens"))
    got = {r.rid for r in df.filter(text_match_condition(query)).collect()}
    want = {i for i, toks in enumerate(docs) if _search_model(toks, query)}
    assert got == want, (query, docs)


# ---- MQL filter-document semantics (compat/ir.py) -------------------------

_MQL_ROWS = [
    ("a", 1), ("a", 5), ("b", 3), ("b", None), (None, 7), (None, None), ("c", 2),
]
_VALS = st.sampled_from(["a", "b", "c", "z"])
_NUMS = st.integers(0, 8)


def _leaf():
    return st.one_of(
        st.builds(lambda v: {"tipo": v}, _VALS),
        st.builds(lambda v: {"tipo": {"$ne": v}}, _VALS),
        st.builds(lambda vs: {"tipo": {"$in": vs}}, st.lists(_VALS, max_size=3)),
        st.builds(lambda vs: {"tipo": {"$nin": vs}}, st.lists(_VALS, max_size=3)),
        st.builds(lambda n: {"anio": {"$gt": n}}, _NUMS),
        st.builds(lambda n, m: {"anio": {"$gte": n, "$lt": m}}, _NUMS, _NUMS),
        st.builds(lambda n: {"anio": {"$not": {"$lt": n}}}, _NUMS),
        st.builds(lambda b: {"anio": {"$exists": b}}, st.booleans()),
    )


_QUERY = st.recursive(
    _leaf(),
    lambda inner: st.one_of(
        st.builds(lambda qs: {"$and": qs}, st.lists(inner, min_size=1, max_size=3)),
        st.builds(lambda qs: {"$or": qs}, st.lists(inner, min_size=1, max_size=3)),
    ),
    max_leaves=4,
)


def _model_field(value, spec):
    """Pure-Python Mongo semantics for one field condition (missing
    field == None): negations ($ne/$nin/$not) match None; ordered
    comparisons never match None (BSON type bracketing)."""
    if not isinstance(spec, dict):
        return value is not None and value == spec
    ok = True
    for op, operand in spec.items():
        if op == "$ne":
            ok &= value is None or value != operand
        elif op == "$in":
            ok &= value is not None and value in operand
        elif op == "$nin":
            ok &= value is None or value not in operand
        elif op == "$exists":
            ok &= (value is not None) == operand
        elif op == "$not":
            ok &= value is None or not _model_field(value, operand)
        elif op == "$gt":
            ok &= value is not None and value > operand
        elif op == "$gte":
            ok &= value is not None and value >= operand
        elif op == "$lt":
            ok &= value is not None and value < operand
        elif op == "$lte":
            ok &= value is not None and value <= operand
        else:  # pragma: no cover
            raise AssertionError(op)
    return ok


def _model_match(row, query):
    for key, value in query.items():
        if key == "$and":
            if not all(_model_match(row, q) for q in value):
                return False
        elif key == "$or":
            if not any(_model_match(row, q) for q in value):
                return False
        elif not _model_field(row[key], value):
            return False
    return True


@settings(max_examples=25, deadline=None)
@given(_QUERY)
def test_mql_filter_matches_mongo_model(spark, q):
    """Any filter document from the supported grammar selects exactly
    the rows a pure-Python Mongo-semantics evaluator selects — NULL
    (missing-field) behavior of the negation operators included."""
    from providenciasbigdata_spark.compat.ir import mql_find

    df = spark.createDataFrame(
        [(i, t, a) for i, (t, a) in enumerate(_MQL_ROWS)],
        "rid int, tipo string, anio int",
    )
    got = {r.rid for r in mql_find(df, q).collect()}
    want = {
        i for i, (t, a) in enumerate(_MQL_ROWS)
        if _model_match({"tipo": t, "anio": a}, q)
    }
    assert got == want, q


# ---- paragraph dedup vs a pure-Python reference --------------------------

@st.composite
def _corpora(draw):
    # small word alphabet forces cross-doc paragraph collisions
    words = [f"w{i}" for i in range(6)]
    n_docs = draw(st.integers(min_value=1, max_value=6))
    docs = []
    for i in range(n_docs):
        n_words = draw(st.integers(min_value=0, max_value=17))
        docs.append((i, " ".join(draw(st.sampled_from(words)) for _ in range(n_words))))
    return docs


@settings(max_examples=15, deadline=None)
@given(_corpora())
def test_dedup_paragraphs_matches_python_model(docs):
    from providenciasbigdata_spark.operators.dedup import dedup_paragraphs
    from providenciasbigdata_spark.session import get_spark

    chunk = 4
    spark = get_spark(app_name="pbd-tests", master="local[4]", shuffle_partitions=4)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_chunks, r.kept_chunks, r.new_text)
        for r in dedup_paragraphs(df, chunk_tokens=chunk).collect()
    }

    # reference model: first occurrence in (doc_id, idx) order wins
    seen = set()
    want = {}
    for doc_id, text in sorted(docs):
        toks = text.split()
        paras = [
            " ".join(toks[i : i + chunk]) for i in range(0, len(toks), chunk)
        ]
        kept = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        want[doc_id] = (len(paras), len(kept), " ".join(kept))
    assert got == want


# ---- MQL array-operator semantics vs the model -----------------------------

_TAG_ROWS = [
    ["a"], ["a", "b"], ["b", "c", "c"], [], None, ["c"], ["a", "b", "c"],
]
_TAG_VALS = st.sampled_from(["a", "b", "c", "z"])

_ARRAY_QUERY = st.one_of(
    st.builds(lambda vs: {"tags": {"$all": vs}}, st.lists(_TAG_VALS, max_size=3)),
    st.builds(lambda n: {"tags": {"$size": n}}, st.integers(0, 4)),
    st.builds(
        lambda lo, hi: {"tags": {"$elemMatch": {"$gte": lo, "$lt": hi}}},
        _TAG_VALS, _TAG_VALS,
    ),
    st.builds(lambda vs: {"tags": {"$elemMatch": {"$in": vs}}},
              st.lists(_TAG_VALS, max_size=3)),
)


def _array_model(tags, spec):
    (op, operand), = spec.items()
    if tags is None:
        return False
    if op == "$all":
        return bool(operand) and all(v in tags for v in operand)
    if op == "$size":
        return len(tags) == operand
    if op == "$elemMatch":
        def elem_ok(e):
            ok = True
            for o, v in operand.items():
                if o == "$gte":
                    ok &= e >= v
                elif o == "$lt":
                    ok &= e < v
                elif o == "$in":
                    ok &= e in v
            return ok
        return any(elem_ok(e) for e in tags)
    raise AssertionError(op)


@settings(max_examples=20, deadline=None)
@given(_ARRAY_QUERY)
def test_mql_array_operators_match_model(spark, q):
    """$all/$size/$elemMatch select exactly what a pure-Python Mongo
    array-semantics model selects — NULL arrays never match, $all []
    matches nothing, duplicates count toward $size."""
    from providenciasbigdata_spark.compat.ir import mql_find

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TAG_ROWS)],
        "rid int, tags array<string>",
    )
    got = {r.rid for r in mql_find(df, q).collect()}
    want = {i for i, t in enumerate(_TAG_ROWS) if _array_model(t, q["tags"])}
    assert got == want, q


# ---- MQL aggregation-expression grammar vs a Python model ---------------

_EXPR_ROWS = [
    {"a": 1, "b": None, "s": "Abc"},
    {"a": 2, "b": 3, "s": ""},
    {"a": -4, "b": 7, "s": "xY z"},
    {"a": 0, "b": 0, "s": None},
]

_CMP_OPS = ["$eq", "$ne", "$gt", "$gte", "$lt", "$lte"]


def _int_exprs():
    base = st.sampled_from(["$a", "$b"]) | st.integers(-5, 5)

    def extend(children):
        pair = st.tuples(children, children)
        return st.one_of(
            st.builds(lambda ab: {"$add": list(ab)}, pair),
            st.builds(lambda ab: {"$subtract": list(ab)}, pair),
            st.builds(lambda ab: {"$multiply": list(ab)}, pair),
            st.builds(lambda ab: {"$ifNull": list(ab)}, pair),
            st.builds(
                lambda op, ab, t, e: {"$cond": [{op: list(ab)}, t, e]},
                st.sampled_from(_CMP_OPS), pair, children, children,
            ),
        )

    return st.recursive(base, extend, max_leaves=6)


def _eval_int(expr, row):
    if isinstance(expr, str) and expr.startswith("$"):
        return row[expr[1:]]
    if isinstance(expr, int):
        return expr
    (op, args), = expr.items()
    if op == "$ifNull":
        a = _eval_int(args[0], row)
        return a if a is not None else _eval_int(args[1], row)
    if op == "$cond":
        cond, then, els = args
        (cop, cargs), = cond.items()
        x, y = _eval_int(cargs[0], row), _eval_int(cargs[1], row)
        if x is None or y is None:
            truth = None  # NULL comparison -> when() falls through
        else:
            truth = {
                "$eq": x == y, "$ne": x != y, "$gt": x > y,
                "$gte": x >= y, "$lt": x < y, "$lte": x <= y,
            }[cop]
        return _eval_int(then, row) if truth else _eval_int(els, row)
    vals = [_eval_int(a, row) for a in args]
    if any(v is None for v in vals):
        return None
    if op == "$add":
        return vals[0] + vals[1]
    if op == "$subtract":
        return vals[0] - vals[1]
    if op == "$multiply":
        return vals[0] * vals[1]
    raise AssertionError(op)


@settings(max_examples=25, deadline=None)
@given(_int_exprs())
def test_agg_expr_matches_python_model(spark, expr):
    """Any expression from the $addFields integer grammar evaluates on
    Spark exactly as the pure-Python Mongo-semantics model — NULL
    propagation through arithmetic, NULL comparisons falling through
    $cond to the else branch, $ifNull coalescing."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    df = spark.createDataFrame(
        [(i, r["a"], r["b"], r["s"]) for i, r in enumerate(_EXPR_ROWS)],
        "rid int, a long, b long, s string",
    )
    got = {
        r.rid: r.out
        for r in mql_aggregate(df, [{"$addFields": {"out": expr}}]).collect()
    }
    want = {i: _eval_int(expr, r) for i, r in enumerate(_EXPR_ROWS)}
    assert got == want, expr


# ---- higher-order expression grammar vs a pure-Python Mongo model -------

_HOF_ROWS = [
    [1, 2, 3],
    [],
    None,
    [-2, 0, 5, 5],
    [7],
]


def _hof_scalars(allow_value: bool):
    leaves = [st.integers(-3, 3).map(lambda i: i), st.just("$$this")]
    if allow_value:
        leaves.append(st.just("$$value"))
    base = st.one_of(*[st.one_of(s if isinstance(s, st.SearchStrategy) else st.just(s)) for s in leaves])

    def extend(children):
        return st.one_of(
            st.builds(lambda a, b: {"$add": [a, b]}, children, children),
            st.builds(lambda a, b: {"$multiply": [a, b]}, children, children),
        )

    return st.recursive(base, extend, max_leaves=4)


def _hof_exprs():
    body = _hof_scalars(allow_value=False)
    red_body = _hof_scalars(allow_value=True)
    mapped = st.builds(
        lambda b: {"$map": {"input": "$xs", "in": b}}, body
    )
    filtered = st.builds(
        lambda b: {"$filter": {"input": "$xs", "cond": {"$gte": [b, 0]}}}, body
    )
    arr = st.one_of(st.just("$xs"), mapped, filtered)
    reduced = st.builds(
        lambda a, init, b: {"$reduce": {"input": a, "initialValue": init,
                                        "in": {"$add": ["$$value", b]}}},
        arr, st.integers(-2, 2), red_body,
    )
    sized = st.builds(lambda a: {"$size": a}, arr)
    return st.one_of(mapped, filtered, reduced, sized)


def _hof_eval(expr, xs, scope=None):
    scope = scope or {}
    if expr == "$xs":
        return xs
    if isinstance(expr, str) and expr.startswith("$$"):
        return scope[expr[2:]]
    if isinstance(expr, int):
        return expr
    (op, args), = expr.items()
    if op == "$add" or op == "$multiply":
        a = _hof_eval(args[0], xs, scope)
        b = _hof_eval(args[1], xs, scope)
        if a is None or b is None:
            return None
        return a + b if op == "$add" else a * b
    if op == "$gte":
        a = _hof_eval(args[0], xs, scope)
        b = _hof_eval(args[1], xs, scope)
        return None if a is None or b is None else a >= b
    if op == "$size":
        arr = _hof_eval(args, xs, scope)
        return None if arr is None else len(arr)
    if op == "$map":
        arr = _hof_eval(args["input"], xs, scope)
        if arr is None:
            return None
        return [_hof_eval(args["in"], xs, {**scope, "this": x}) for x in arr]
    if op == "$filter":
        arr = _hof_eval(args["input"], xs, scope)
        if arr is None:
            return None
        return [x for x in arr
                if _hof_eval(args["cond"], xs, {**scope, "this": x}) is True]
    if op == "$reduce":
        arr = _hof_eval(args["input"], xs, scope)
        if arr is None:
            return None
        acc = args["initialValue"]
        for x in arr:
            acc = _hof_eval(args["in"], xs, {**scope, "value": acc, "this": x})
        return acc
    raise AssertionError(op)


@settings(max_examples=25, deadline=None)
@given(_hof_exprs())
def test_hof_expr_matches_python_model(spark, expr):
    """Any $map/$filter/$reduce tree from the HOF grammar evaluates on
    Spark exactly as the pure-Python Mongo model: $$this/$$value
    scoping, null arrays propagating to null, null cond excluded by
    $filter, left-fold order in $reduce."""
    from hypothesis import assume

    from providenciasbigdata_spark.compat.ir import mql_aggregate

    want = {i: _hof_eval(expr, xs) for i, xs in enumerate(_HOF_ROWS)}

    def fits(v):  # unbounded Python ints vs LONG: skip ANSI-overflow trees
        if isinstance(v, list):
            return all(fits(x) for x in v)
        return v is None or isinstance(v, bool) or abs(v) < 2**31
    assume(all(fits(v) for v in want.values()))

    df = spark.createDataFrame(
        [(i, xs) for i, xs in enumerate(_HOF_ROWS)], "rid int, xs array<long>"
    )
    got = {
        r.rid: (list(r.out) if isinstance(r.out, list) else r.out)
        for r in mql_aggregate(df, [{"$addFields": {"out": expr}}]).collect()
    }
    assert got == want, expr


# ---- $addFields/$group pipeline grammar vs a Mongo model (round 12) -----

def _int_exprs_wide():
    """The round-12 widening of the $addFields integer grammar
    (verdict-r11 item 7): adds $abs, dividend-sign $mod (literal
    divisor — Mongo errors on mod-by-zero, and ANSI Spark would too),
    and $switch to the arithmetic/$ifNull/$cond core."""
    base = st.sampled_from(["$a", "$b"]) | st.integers(-5, 5)

    def extend(children):
        pair = st.tuples(children, children)
        cond = st.builds(
            lambda op, ab: {op: list(ab)}, st.sampled_from(_CMP_OPS), pair
        )
        return st.one_of(
            st.builds(lambda ab: {"$add": list(ab)}, pair),
            st.builds(lambda ab: {"$subtract": list(ab)}, pair),
            st.builds(lambda ab: {"$multiply": list(ab)}, pair),
            st.builds(lambda ab: {"$ifNull": list(ab)}, pair),
            st.builds(lambda a: {"$abs": [a]}, children),
            st.builds(
                lambda a, d: {"$mod": [a, d]}, children, st.integers(2, 5)
            ),
            st.builds(
                lambda c, t, e: {"$cond": [c, t, e]}, cond, children, children
            ),
            st.builds(
                lambda c1, t1, c2, t2, d: {"$switch": {
                    "branches": [{"case": c1, "then": t1},
                                 {"case": c2, "then": t2}],
                    "default": d}},
                cond, children, cond, children, children,
            ),
        )

    return st.recursive(base, extend, max_leaves=8)


def _eval_cond_wide(cond, row):
    (cop, cargs), = cond.items()
    x, y = _eval_int_wide(cargs[0], row), _eval_int_wide(cargs[1], row)
    if x is None or y is None:
        return None  # NULL comparison -> when() falls through
    return {
        "$eq": x == y, "$ne": x != y, "$gt": x > y,
        "$gte": x >= y, "$lt": x < y, "$lte": x <= y,
    }[cop]


def _eval_int_wide(expr, row):
    import math

    if isinstance(expr, str) and expr.startswith("$"):
        return row[expr[1:]]
    if isinstance(expr, int):
        return expr
    (op, args), = expr.items()
    if op == "$ifNull":
        a = _eval_int_wide(args[0], row)
        return a if a is not None else _eval_int_wide(args[1], row)
    if op == "$cond":
        c, t, e = args
        return _eval_int_wide(t if _eval_cond_wide(c, row) else e, row)
    if op == "$switch":
        for br in args["branches"]:
            if _eval_cond_wide(br["case"], row):
                return _eval_int_wide(br["then"], row)
        return _eval_int_wide(args["default"], row)
    vals = [_eval_int_wide(a, row) for a in args]
    if any(v is None for v in vals):
        return None
    if op == "$add":
        return vals[0] + vals[1]
    if op == "$subtract":
        return vals[0] - vals[1]
    if op == "$multiply":
        return vals[0] * vals[1]
    if op == "$abs":
        return abs(vals[0])
    if op == "$mod":
        return int(math.fmod(vals[0], vals[1]))  # dividend-sign, BSON rule
    raise AssertionError(op)


_GROUP_KEYS = st.sampled_from(
    [{"$mod": [{"$abs": ["$a"]}, 2]}, "$b", {"$ifNull": ["$b", -9]}]
)


@settings(max_examples=25, deadline=None)
@given(_int_exprs_wide(), _GROUP_KEYS)
def test_agg_group_pipeline_matches_mongo_model(spark, expr, key):
    """Round 12 (verdict-r11 item 7): the $addFields -> $group pipeline
    over random expression trees matches a pure-Python Mongo
    evaluator. Accumulator semantics pinned: $sum ignores nulls and
    reads 0 for an all-null group (Mongo), $avg/$min/$max ignore nulls
    and read null for an all-null group, $count counts documents, and
    group keys include a NULL-keyed group (Mongo groups nulls
    together). Same depth posture as the find()-grammar gate."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    df = spark.createDataFrame(
        [(i, r["a"], r["b"], r["s"]) for i, r in enumerate(_EXPR_ROWS)],
        "rid int, a long, b long, s string",
    )
    out = mql_aggregate(df, [
        {"$addFields": {"v": expr}},
        {"$group": {"_id": key, "s": {"$sum": "$v"}, "mn": {"$min": "$v"},
                    "mx": {"$max": "$v"}, "av": {"$avg": "$v"},
                    "n": {"$count": {}}}},
    ]).collect()
    got = {
        r["_id"]: (r["s"], r["mn"], r["mx"], r["av"], r["n"]) for r in out
    }

    groups: dict = {}
    for row in _EXPR_ROWS:
        k = _eval_int_wide(key, row)
        groups.setdefault(k, []).append(_eval_int_wide(expr, row))
    want = {}
    for k, vs in groups.items():
        nn = [v for v in vs if v is not None]
        want[k] = (
            sum(nn) if nn else 0,
            min(nn) if nn else None,
            max(nn) if nn else None,
            (sum(nn) / len(nn)) if nn else None,
            len(vs),
        )
    assert got == want, (expr, key)


# ---- $setWindowFields vs pure-Python models (round 12) -------------------

_WF_BOUND = st.one_of(
    st.integers(-3, 3),
    st.just("unbounded"),
    st.just("current"),
)


def _wf_rows():
    # unique (grp, ord) so the sortBy order is total => deterministic
    return st.lists(
        st.tuples(
            st.sampled_from(["g", "h"]),
            st.one_of(st.none(), st.integers(-4, 4)),
        ),
        min_size=1, max_size=8,
    ).map(lambda vs: [
        (i, g, i, v) for i, (g, v) in enumerate(vs)
    ])


def _resolve_docs_bound(b, idx, n, side):
    if b == "unbounded":
        return 0 if side == "lo" else n - 1
    if b == "current":
        return idx
    return idx + b


@settings(max_examples=20, deadline=None)
@given(_wf_rows(), _WF_BOUND, _WF_BOUND)
def test_window_fields_documents_matches_model(spark, rows, lo, hi):
    """Random `documents` frames (ROWS windows) in $setWindowFields
    match a pure-Python frame evaluator: $sum ignores nulls and reads
    0 on an all-null/empty frame, $min null, $count counts documents
    (not nulls), partitions are isolated, and negative/positive/
    unbounded/current bounds all slice correctly."""
    from hypothesis import assume

    from providenciasbigdata_spark.compat.ir import mql_aggregate

    def rank(b, side):
        order = {"unbounded": -10**6 if side == "lo" else 10**6,
                 "current": 0}
        return order.get(b, b)

    assume(rank(lo, "lo") <= rank(hi, "hi"))
    df = spark.createDataFrame(rows, "rid long, grp string, ord long, v long")
    got = {r["rid"]: (r["s"], r["mn"], r["n"]) for r in mql_aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": "$grp",
            "sortBy": {"ord": 1},
            "output": {
                "s": {"$sum": "$v", "window": {"documents": [lo, hi]}},
                "mn": {"$min": "$v", "window": {"documents": [lo, hi]}},
                "n": {"$count": {}, "window": {"documents": [lo, hi]}},
            },
        }}]).collect()}

    by_grp: dict = {}
    for rid, g, o, v in rows:
        by_grp.setdefault(g, []).append((o, rid, v))
    want = {}
    for g, items in by_grp.items():
        items.sort()
        n = len(items)
        for idx, (_o, rid, _v) in enumerate(items):
            a = max(0, _resolve_docs_bound(lo, idx, n, "lo"))
            b = min(n - 1, _resolve_docs_bound(hi, idx, n, "hi"))
            frame = [items[j][2] for j in range(a, b + 1)] if a <= b else []
            nn = [v for v in frame if v is not None]
            want[rid] = (sum(nn) if nn else 0,
                         min(nn) if nn else None,
                         len(frame))
    assert got == want, (rows, lo, hi)


def _cal_ts():
    import datetime as dt

    return st.builds(
        lambda month, day, sec, ms: dt.datetime(
            2024, month, min(day, [31,29,31,30,31,30,31,31,30,31,30,31][month-1]),
            12, 0, sec, ms * 1000,
        ),
        st.integers(1, 12), st.integers(1, 31),
        st.integers(0, 59), st.integers(0, 3),
    )


def _add_months_clamped(ts, n):
    import calendar

    y = ts.year + (ts.month - 1 + n) // 12
    m = (ts.month - 1 + n) % 12 + 1
    d = min(ts.day, calendar.monthrange(y, m)[1])
    return ts.replace(year=y, month=m, day=d)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(_cal_ts(), min_size=1, max_size=7, unique=True),
    st.integers(-2, 0), st.integers(0, 2),
)
def test_window_fields_calendar_range_matches_model(spark, tss, lo, hi):
    """Random timestamps (incl. month-end days and sub-second parts)
    through the round-12 calendar-unit range window match a Python
    model computing the dateAdd boundaries with explicit day clamping
    — frame membership is [ts + lo months, ts + hi months] inclusive
    at full timestamp precision."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    rows = [(i, ts, float(2 ** i)) for i, ts in enumerate(sorted(tss))]
    df = spark.createDataFrame(rows, "rid long, ts timestamp, v double")
    got = {r["rid"]: (r["s"], r["n"]) for r in mql_aggregate(df, [
        {"$setWindowFields": {
            "sortBy": {"ts": 1},
            "output": {
                "s": {"$sum": "$v", "window": {"range": [lo, hi], "unit": "month"}},
                "n": {"$count": {}, "window": {"range": [lo, hi], "unit": "month"}},
            },
        }}]).collect()}
    want = {}
    for rid, ts, _v in rows:
        a = _add_months_clamped(ts, lo)
        b = _add_months_clamped(ts, hi)
        frame = [v for _r, t, v in rows if a <= t <= b]
        want[rid] = (sum(frame) if frame else 0.0, len(frame))
    assert got == want, (rows, lo, hi)


# ---- Cypher WHERE grammar vs a Python graph model (round 12) -------------

_CY_EDGES = [
    ("P-1", "P-2", 40.0), ("P-1", "P-3", 20.0), ("P-1", "P-4", 55.5),
    ("P-1", "P-5", 31.0), ("P-2", "P-4", 35.0), ("P-3", "P-5", 50.0),
    ("P-5", "P-1", 45.0),
]
_CY_ANIO = {f"P-{i}": 2000 + i for i in range(1, 6)}


def _cy_conds():
    leaf = st.one_of(
        st.builds(lambda op, v: (f"r.similitud {op} {v}",
                                 lambda s, b: _OPSPY[op](s, v)),
                  st.sampled_from([">=", ">", "<", "<=", "="]),
                  st.sampled_from([20.0, 31.0, 40.0, 50.5])),
        st.builds(lambda op, y: (f"b.anio {op} {y}",
                                 lambda s, b: _OPSPY[op](_CY_ANIO[b], y)),
                  st.sampled_from([">=", ">", "<", "<="]),
                  st.integers(2001, 2005)),
        st.builds(lambda c, d, v: (
            f"r.similitud * {c} + {d} > {v}",
            lambda s, b, c=c, d=d, v=v: s * c + d > v),
            st.integers(1, 3), st.integers(-10, 10),
            st.sampled_from([60, 100, 150])),
    )

    def extend(children):
        return st.one_of(
            st.builds(lambda a, b2: (f"({a[0]} AND {b2[0]})",
                                     lambda s, b: a[1](s, b) and b2[1](s, b)),
                      children, children),
            st.builds(lambda a, b2: (f"({a[0]} OR {b2[0]})",
                                     lambda s, b: a[1](s, b) or b2[1](s, b)),
                      children, children),
        )

    return st.recursive(leaf, extend, max_leaves=4)


_OPSPY = {
    ">=": lambda a, b: a >= b, ">": lambda a, b: a > b,
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    "=": lambda a, b: a == b,
}


@settings(max_examples=25, deadline=None)
@given(_cy_conds())
def test_cypher_where_grammar_matches_model(spark, cond):
    """Random WHERE condition trees (relationship-weight guards,
    node-property guards needing the lazy nodes join, computed
    arithmetic, AND/OR nesting with parentheses) over the 1-hop
    anchored pattern evaluate on Spark exactly as a pure-Python graph
    model — the Cypher sibling of the MQL expression-grammar gate."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    text, model = cond
    edges = spark.createDataFrame(
        _CY_EDGES, "src string, dst string, similitud double")
    nodes = spark.createDataFrame(
        sorted(_CY_ANIO.items()), "id string, anio long")
    got = sorted(
        (r["vecino"], r["s"])
        for r in cypher_run(
            "MATCH (a {id: $o})-[r:SIMILAR]->(b) "
            f"WHERE {text} "
            "RETURN b.id AS vecino, r.similitud AS s",
            nodes=nodes, edges=edges, params={"o": "P-1"},
        ).collect()
    )
    want = sorted(
        (dst, sim)
        for src, dst, sim in _CY_EDGES
        if src == "P-1" and model(sim, dst)
    )
    assert got == want, text


@settings(max_examples=20, deadline=None)
@given(
    _cy_conds(),
    st.sampled_from([None, "s", "abs(s - 40)", "s * -1 + 100"]),
    st.integers(1, 4),
)
def test_cypher_order_limit_matches_model(spark, cond, order, k):
    """The ORDER BY expression + LIMIT path (order_expr_col) under the
    same random WHERE grammar: computed sort keys over the projected
    alias with a deterministic vecino tiebreak, sliced to k — matches
    the Python model's total-order sort exactly."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    text, model = cond
    edges = spark.createDataFrame(
        _CY_EDGES, "src string, dst string, similitud double")
    nodes = spark.createDataFrame(
        sorted(_CY_ANIO.items()), "id string, anio long")
    order_sql = f"ORDER BY {order} ASC, vecino ASC LIMIT {k} " if order else ""
    rows = cypher_run(
        "MATCH (a {id: $o})-[r:SIMILAR]->(b) "
        f"WHERE {text} "
        "RETURN b.id AS vecino, r.similitud AS s "
        + order_sql,
        nodes=nodes, edges=edges, params={"o": "P-1"},
    ).collect()
    got = [(r["vecino"], r["s"]) for r in rows]

    cands = [
        (dst, sim) for src, dst, sim in _CY_EDGES
        if src == "P-1" and model(sim, dst)
    ]
    keyfns = {
        "s": lambda t: t[1],
        "abs(s - 40)": lambda t: abs(t[1] - 40),
        "s * -1 + 100": lambda t: t[1] * -1 + 100,
    }
    if order:
        want = sorted(cands, key=lambda t: (keyfns[order](t), t[0]))[:k]
        assert got == want, (text, order, k)
    else:
        assert sorted(got) == sorted(cands), text


# ---- find() projection grammar vs a Mongo model (round 12) ----------------

_PJ_ROWS = [
    (100, 1, "x", [1, 2, 3, 4, 5]),
    (101, 2, "y", []),
    (102, 3, "z", None),
    (103, 4, "w", [7]),
]
_PJ_COLS = ["_id", "a", "b", "arr"]


def _projections():
    inc = st.sampled_from([0, 1])
    slice_spec = st.one_of(
        st.integers(-6, 6),
        st.tuples(st.integers(-6, 6), st.integers(1, 6)).map(list),
    )
    return st.builds(
        lambda fields, id_v, sl: {
            **{f: v for f, v in fields.items() if v is not None},
            **({"_id": id_v} if id_v is not None else {}),
            **({"arr": {"$slice": sl}} if sl is not None else {}),
        },
        st.fixed_dictionaries({
            "a": st.one_of(st.none(), inc),
            "b": st.one_of(st.none(), inc),
            "arr": st.one_of(st.none(), inc),
        }),
        st.one_of(st.none(), inc),
        st.one_of(st.none(), slice_spec),
    )


def _model_slice(arr, spec):
    if arr is None:
        return None
    if isinstance(spec, int):
        return arr[:spec] if spec >= 0 else (arr[spec:] if arr else arr)
    skip, limit = spec
    if skip < 0:
        skip = max(len(arr) + skip, 0)
    return arr[skip:skip + limit]


def _model_projection(projection):
    """Columns surviving + slice spec, or ValueError — Mongo's rules:
    single mode (excluding _id), _id implicit in include mode unless
    _id:0, $slice inclusion-neutral."""
    sl = None
    spec = {}
    for k, v in projection.items():
        if isinstance(v, dict):
            sl = v["$slice"]
        elif k != "_id":
            spec[k] = bool(v)
    if len(set(spec.values())) > 1:
        raise ValueError("mixed")
    id_setting = projection.get("_id")
    if not spec:
        if sl is not None:
            keep = list(_PJ_COLS)
            if "_id" in projection and not id_setting:
                keep.remove("_id")
            return keep, sl
        keep = list(_PJ_COLS)
        if "_id" in projection and not id_setting:
            keep.remove("_id")
            if not keep:
                raise ValueError("empty")
        return keep, None
    include = next(iter(spec.values()))
    if include:
        keep = [c for c in _PJ_COLS if spec.get(c)]
        if sl is not None and "arr" not in keep:
            keep.append("arr")
        if "_id" in _PJ_COLS and id_setting != 0 and not (
            "_id" in projection and not id_setting
        ):
            keep = ["_id"] + [c for c in keep if c != "_id"]
    else:
        keep = [c for c in _PJ_COLS if c == "_id" or not (c in spec)]
        if "_id" in projection and not id_setting:
            keep.remove("_id")
        if not keep:
            raise ValueError("empty")
    # stored order
    keep = [c for c in _PJ_COLS if c in keep]
    return keep, sl


@settings(max_examples=30, deadline=None)
@given(_projections())
def test_find_projection_grammar_matches_model(spark, projection):
    """Random find() projections (include/exclude modes, the _id
    special cases, inclusion-neutral $slice with int and [skip, limit]
    forms incl. negative skips and empty/NULL arrays) match a
    pure-Python Mongo projection model — and the engine raises exactly
    where the model does (mixed modes)."""
    from hypothesis import assume

    import pytest as _pt

    from providenciasbigdata_spark.compat.ir import mql_find

    assume(projection)  # empty dict = no projection, nothing to check
    df = spark.createDataFrame(
        _PJ_ROWS, "_id long, a long, b string, arr array<int>")
    try:
        want_cols, sl = _model_projection(projection)
        valid = True
    except ValueError:
        valid = False
    if not valid:
        with _pt.raises(ValueError):
            mql_find(df, {}, projection=projection).collect()
        return
    out = mql_find(df, {}, projection=projection)
    assert out.columns == want_cols, (projection, out.columns, want_cols)
    got = sorted((tuple(r) for r in out.collect()), key=repr)
    want = []
    for row in _PJ_ROWS:
        d = dict(zip(_PJ_COLS, row))
        if sl is not None:
            d["arr"] = _model_slice(d["arr"], sl)
        want.append(tuple(d[c] for c in want_cols))
    want.sort(key=repr)
    assert got == want, (projection, got, want)


# ---- var-length OPTIONAL computed-condition gate (round 13, ----------
# verdict-r12 item 5): random computed WHERE trees over the BFS hit
# frame of an OPTIONAL MATCH (b)-[rs:SIMILAR*1..H]->(c) tail vs a
# pure-Python min-hop graph model. The scoped compiler under test is
# compat/cypher.py::_filter_hit_expr_conds — new in round 12 and
# exactly the kind of hand-rolled expression lowering the round-12
# grammar gates caught 4 real bugs in.

_VL_EDGES = [
    ("P-1", "P-2", 40.0), ("P-1", "P-3", 20.0), ("P-1", "P-4", 55.0),
    ("P-1", "P-5", 31.0), ("P-2", "P-4", 35.0), ("P-2", "P-6", 60.0),
    ("P-3", "P-5", 50.0), ("P-4", "P-6", 45.0), ("P-4", "P-7", 25.0),
    ("P-5", "P-7", 65.0), ("P-6", "P-8", 30.0), ("P-7", "P-8", 70.0),
    ("P-5", "P-1", 45.0), ("P-8", "P-2", 33.0),
]
_VL_ANIO = {f"P-{i}": 2000 + i for i in range(1, 9)}


def _vl_conds():
    """(cypher_text, model(anio_c, saltos, b_id, c_id) -> bool) pairs
    over exactly the tail's documented scope: endpoint properties
    (lazy nodes join), length(rs), the bound start's id, literals,
    arithmetic, scalar functions, AND/OR/NOT."""
    leaf = st.one_of(
        st.builds(lambda op, y: (f"c.anio {op} {y}",
                                 lambda a, h, b, c: _OPSPY[op](a, y)),
                  st.sampled_from([">=", ">", "<", "<=", "="]),
                  st.integers(2002, 2008)),
        st.builds(lambda op, k: (f"length(rs) {op} {k}",
                                 lambda a, h, b, c: _OPSPY[op](h, k)),
                  st.sampled_from([">=", "<=", "="]),
                  st.integers(1, 3)),
        st.builds(lambda w, bar: (
            f"c.anio + length(rs) * {w} > {bar}",
            lambda a, h, b, c, w=w, bar=bar: a + h * w > bar),
            st.integers(1, 5), st.integers(2004, 2012)),
        st.builds(lambda y, d: (
            f"abs(c.anio - {y}) <= {d}",
            lambda a, h, b, c, y=y, d=d: abs(a - y) <= d),
            st.integers(2002, 2008), st.integers(0, 3)),
        st.builds(lambda p: (f"b.id = 'P-{p}'",
                             lambda a, h, b, c, p=p: b == f"P-{p}"),
                  st.integers(1, 5)),
        st.builds(lambda p: (f"c.id <> 'P-{p}'",
                             lambda a, h, b, c, p=p: c != f"P-{p}"),
                  st.integers(2, 8)),
    )

    def extend(children):
        return st.one_of(
            st.builds(lambda x, y: (f"({x[0]} AND {y[0]})",
                                    lambda a, h, b, c: x[1](a, h, b, c)
                                    and y[1](a, h, b, c)),
                      children, children),
            st.builds(lambda x, y: (f"({x[0]} OR {y[0]})",
                                    lambda a, h, b, c: x[1](a, h, b, c)
                                    or y[1](a, h, b, c)),
                      children, children),
            st.builds(lambda x: (f"NOT {x[0]}",
                                 lambda a, h, b, c: not x[1](a, h, b, c)),
                      children),
        )

    return st.recursive(leaf, extend, max_leaves=4)


@settings(max_examples=20, deadline=None)
@given(
    _vl_conds(),
    st.sampled_from([20.0, 31.0, 40.5]),       # bound-hop floor
    st.sampled_from([(25.0, 100.0), (33.0, 60.0), (45.0, 100.0)]),
    st.integers(1, 3),                          # max hops H
)
def test_cypher_varlen_optional_computed_matches_model(
    spark, cond, lo, guard, hi_hop
):
    """Random computed conditions over var-length OPTIONAL tails
    evaluate on Spark exactly as a pure-Python min-hop BFS model:
    per bound neighbor b of the anchor, endpoints c at min-hop 1..H
    through the all()-guarded edge set, the computed tree filtering
    hits BEFORE the left join — so a b whose every tail fails keeps
    exactly one null row (the all-or-nothing OPTIONAL contract)."""
    from providenciasbigdata_spark.compat.ir import cypher_run

    text, model = cond
    glo, ghi = guard
    edges = spark.createDataFrame(
        _VL_EDGES, "src string, dst string, similitud double")
    nodes = spark.createDataFrame(
        sorted(_VL_ANIO.items()), "id string, anio long")
    got = sorted(
        [(r["vecino"], r["lejano"], r["saltos"])
         for r in cypher_run(
            "MATCH (a {id: $o})-[r:SIMILAR]->(b) "
            "WHERE r.similitud >= $lo "
            f"OPTIONAL MATCH (b)-[rs:SIMILAR*1..{hi_hop}]->(c) "
            "WHERE all(x IN rs WHERE x.similitud >= $glo AND x.similitud <= $ghi) "
            f"  AND {text} "
            "RETURN b.id AS vecino, c.id AS lejano, length(rs) AS saltos",
            nodes=nodes, edges=edges,
            params={"o": "P-1", "lo": lo, "glo": glo, "ghi": ghi},
         ).collect()],
        key=lambda t: (t[0], t[1] or "", t[2] if t[2] is not None else -1),
    )

    guarded = [(s, d) for s, d, w in _VL_EDGES if glo <= w <= ghi]

    def min_hops(seed):
        dist, frontier = {seed: 0}, [seed]
        for h in range(1, hi_hop + 1):
            nxt = []
            for u in frontier:
                for s, d in guarded:
                    if s == u and d not in dist:
                        dist[d] = h
                        nxt.append(d)
            frontier = nxt
        return {n: h for n, h in dist.items() if h >= 1}

    want = []
    for src, b, w in _VL_EDGES:
        if src != "P-1" or w < lo:
            continue
        hits = [
            (c, h) for c, h in min_hops(b).items()
            if model(_VL_ANIO[c], h, b, c)
        ]
        if hits:
            want.extend((b, c, h) for c, h in hits)
        else:
            want.append((b, None, None))
    want.sort(key=lambda t: (t[0], t[1] or "", t[2] if t[2] is not None else -1))
    assert got == want, (text, lo, guard, hi_hop)


# ---- $dateTrunc option-matrix gate (round 13) ------------------------
# The unit x binSize x startOfWeek x timezone matrix was assembled
# across rounds 11-13 (bins r11, week anchors r12, tz shift
# reimplemented r13 via from/to_utc_timestamp) — but only ever pinned
# by hand-picked cases. Fuzz the whole matrix against an independent
# pure-Python wall-clock model. Fixed-offset zones only: Olson zones
# hit the documented DST-gap divergence (Java gap rule vs timelib);
# offsets exercise the same shift arithmetic without the ambiguity.
# Pre-2000 timestamps exercise the floor (not trunc) bin semantics.

_DT_UNITS = ["second", "minute", "hour", "day", "week", "month", "quarter", "year"]
_DT_WEEKDAY_ANCHOR = {
    "monday": "1999-12-27", "tuesday": "1999-12-28", "wednesday": "1999-12-29",
    "thursday": "1999-12-30", "friday": "1999-12-31", "saturday": "2000-01-01",
    "sunday": "1999-12-26",
}


def _model_date_trunc(ts, unit, bin_size, sow, offset_min):
    """Independent Mongo $dateTrunc model: shift to the zone wall
    clock, bin against the 2000-01-01 local anchor, shift back."""
    import datetime as dt

    off = dt.timedelta(minutes=offset_min)
    local = ts + off
    if unit == "week":
        ref = dt.datetime.strptime(_DT_WEEKDAY_ANCHOR[sow], "%Y-%m-%d")
        span = dt.timedelta(days=7 * bin_size)
        b = local - ref
        res = ref + (b - b % span)  # timedelta % is floor-mod
    elif unit in ("second", "minute", "hour", "day"):
        ref = dt.datetime(2000, 1, 1)
        span = dt.timedelta(
            seconds={"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit]
            * bin_size
        )
        b = local - ref
        res = ref + (b - b % span)
    else:
        months_per = {"month": 1, "quarter": 3, "year": 12}[unit]
        span = months_per * bin_size
        m = (local.year - 2000) * 12 + local.month - 1
        binned = m - m % span  # Python % floors for negative m too
        y, mo = divmod(2000 * 12 + binned, 12)
        res = dt.datetime(y, mo + 1, 1)
    return res - off


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.integers(
            # 1995-06-01 .. 2034-12-31 in whole seconds: spans the
            # pre-2000 negative-bin region and far post-anchor dates
            min_value=801964800, max_value=2050000000
        ),
        min_size=6, max_size=12, unique=True,
    ),
    st.sampled_from(_DT_UNITS),
    st.integers(1, 7),
    st.sampled_from(sorted(_DT_WEEKDAY_ANCHOR)),
    st.sampled_from([None, 0, 330, -480, -210, 840, 60]),  # offset minutes
)
def test_mql_date_trunc_matrix_matches_model(spark, epochs, unit, bin_size, sow, off):
    """Random (unit, binSize, startOfWeek, fixed-offset timezone)
    against the pure-Python wall-clock model — including the
    binSize == 1 shortcut (Spark date_trunc) vs the model's bin
    arithmetic, which must agree because the 2000-01-01 anchor sits
    on every unit boundary."""
    import datetime as dt

    from providenciasbigdata_spark.compat.ir import mql_aggregate

    rows = [(i, dt.datetime.utcfromtimestamp(e)) for i, e in enumerate(epochs)]
    df = spark.createDataFrame(rows, "i long, ts timestamp")
    spec = {"date": "$ts", "unit": unit, "binSize": bin_size}
    if unit == "week":
        spec["startOfWeek"] = sow
    offset_min = 0
    if off is not None:
        sign = "+" if off >= 0 else "-"
        h, m = divmod(abs(off), 60)
        spec["timezone"] = f"{sign}{h:02d}:{m:02d}"
        offset_min = off
    out = mql_aggregate(df, [{"$addFields": {"x": {"$dateTrunc": spec}}}])
    got = {r["i"]: r["x"] for r in out.collect()}
    for i, ts in rows:
        want = _model_date_trunc(ts, unit, bin_size, sow, offset_min)
        assert got[i] == want, (ts, unit, bin_size, sow, off, got[i], want)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(_cal_ts(), min_size=2, max_size=8, unique=True),
    st.sampled_from(["month", "quarter", "year"]),
    st.integers(-2, 0), st.integers(0, 1),
    st.booleans(),
)
def test_window_fields_calendar_units_partitioned_matches_model(
    spark, tss, unit, lo, hi, partitioned
):
    """Round-13 extension of the calendar-range gate to the
    quarter/year month-multipliers (the binning's (hi-lo)*m+1 bucket
    fan-out) and to partitioned frames — frame membership stays
    [ts + lo*m months, ts + hi*m months] day-clamped, per partition
    key when partitionBy is present. Also pins the binning plan:
    no nested-loop join regardless of partitioning."""
    from providenciasbigdata_spark.compat.ir import mql_aggregate

    m = {"month": 1, "quarter": 3, "year": 12}[unit]
    rows = [
        (i, ts, float(2 ** i), f"u{i % 2}" if partitioned else "u")
        for i, ts in enumerate(sorted(tss))
    ]
    df = spark.createDataFrame(rows, "rid long, ts timestamp, v double, u string")
    swf = {
        "sortBy": {"ts": 1},
        "output": {
            "s": {"$sum": "$v", "window": {"range": [lo, hi], "unit": unit}},
            "n": {"$count": {}, "window": {"range": [lo, hi], "unit": unit}},
        },
    }
    if partitioned:
        swf["partitionBy"] = "$u"
    out = mql_aggregate(df, [{"$setWindowFields": swf}])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    got = {r["rid"]: (r["s"], r["n"]) for r in out.collect()}
    want = {}
    for rid, ts, _v, u in rows:
        a = _add_months_clamped(ts, lo * m)
        b = _add_months_clamped(ts, hi * m)
        frame = [v for _r, t, v, u2 in rows if u2 == u and a <= t <= b]
        want[rid] = (sum(frame) if frame else 0.0, len(frame))
    assert got == want, (rows, unit, lo, hi, partitioned)
