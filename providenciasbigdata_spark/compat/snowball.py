"""Full Snowball stemmers (Spanish + English/Porter2): a Python
reference and a DuckDB SQL generator per language.

Mongo's ``$text`` stems server-side with real Snowball (the reference
relies on it at streamlit_app.py:147 — its ``transcripciones``
collection is Spanish legal text; English is Mongo's text-index
default). This module implements the FULL published algorithms
(public spec: snowballstem.org/algorithms/{spanish,english}/stemmer.html)
as two evaluators:

  * ``stem_es_py`` / ``stem_en_py`` — pure-Python reference
    implementations. They stem query terms, and the engine runs them
    over Spark data as one Arrow UDF (compat/stemming.py::stem_col);
  * ``stem_list_sql`` — the same algorithm as DuckDB SQL
    (``list_transform`` + ``list_reduce`` over a literal step list with
    a struct accumulator ``(w, r1, r2, rv, f)``), so stemmed queries
    stay DuckDB-oracle-checkable end to end (document tokens AND the
    literal query terms both stem in SQL). Regions are computed once
    (they are absolute positions; every step edits only the tail, so
    they stay valid), and each step is a generated CASE whose branches
    reference only the lambda variables — expression size stays LINEAR
    in the rule count (a naive step-after-step inlining is
    exponential).

Divergence from Mongo, documented: the engine tokenizes with accent
FOLDING before stemming (B1 contract, compat/documents.py), while
Mongo stems the accented token and folds afterwards.  The tables here
are therefore the official accented tables FOLDED (each accented
suffix replaced by its accentless twin, duplicates merged, the final
remove-acute-accents step a no-op).  On accentless input the result is
identical to Snowball; accented Spanish text can over-strip folded
homographs (e.g. "familia" ends in folded imperfect suffix "ia") —
the recall-safe direction for search, and the only consistent choice
once tokens are folded.

Control-flow semantics faithfully implemented (these differ from the
lite tables and are pinned in tests/test_snowball.py):
  * within a step, the LONGEST matching suffix is selected first and
    its condition tested; if the condition fails the step does NOTHING
    (no fall-through to shorter suffixes) — Snowball ``among``;
  * Spanish steps 2a/2b run only if no earlier verb/standard suffix
    was removed (the ``f`` flag);
  * English exceptional forms, post-step-1a invariants, y→Y consonant
    marking, gener/commun/arsen R1 exceptions, and the short-word /
    short-syllable tests of steps 1b/5.
"""

from __future__ import annotations

from functools import lru_cache

# ---------------------------------------------------------------------------
# shared character data
# ---------------------------------------------------------------------------

_FOLD_SRC = "áàâäãåéèêëíìîïóòôöõúùûüñçýÿ"
_FOLD_DST = "aaaaaaeeeeiiiiooooouuuuncyy"
_FOLD = str.maketrans(_FOLD_SRC, _FOLD_DST)

V_ES = "aeiou"  # folded Spanish vowels
V_EN = "aeiouy"  # Porter2 vowels; marked consonant-y is 'Y' (not in set)

_EN_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_EN_LI_END = "cdeghkmnrt"


def fold(token: str) -> str:
    """The Python twin of the engine's JVM accent fold (B1)."""
    return token.translate(_FOLD)


# ---------------------------------------------------------------------------
# rule tables (official lists, Spanish pre-folded)
# ---------------------------------------------------------------------------


def _folded(*suffixes: str) -> tuple[str, ...]:
    out: list[str] = []
    for s in suffixes:
        f = fold(s)
        if f not in out:
            out.append(f)
    return tuple(out)


ES_PRONOUNS = _folded(
    "selas", "selos", "sela", "selo", "las", "les", "los", "nos",
    "me", "se", "la", "le", "lo",
)
# step-0 verb endings (groups a+b of the spec merge once folded; the
# accent removal of group (a) is the fold itself)
ES_P0_BASES = _folded("iéndo", "ándo", "ando", "iendo", "ár", "ér", "ír", "ar", "er", "ir")

# step 1: (suffixes, region, replacement, secondary-alternatives)
# secondary alternative = (suffixes, region, then) — tried in order,
# longest suffix within an alternative; a region failure falls through
# to the NEXT alternative (Snowball `or` backtracking); `then` is one
# further optional (suffixes, region) deletion.
ES_STEP1: list[tuple[tuple[str, ...], int, str, list]] = [
    (
        _folded(
            "amientos", "imientos", "amiento", "imiento", "anzas", "ismos",
            "ables", "ibles", "istas", "anza", "icos", "icas", "ismo",
            "able", "ible", "ista", "osos", "osas", "ico", "ica", "oso", "osa",
        ),
        2, "", [],
    ),
    (
        _folded(
            "aciones", "adoras", "adores", "ancias", "adora", "ación",
            "antes", "ancia", "ador", "ante",
        ),
        2, "", [((("ic",), 2, None),)],
    ),
    (_folded("logías", "logía"), 2, "log", []),
    (_folded("uciones", "ución"), 2, "u", []),
    (_folded("encias", "encia"), 2, "ente", []),
    (
        _folded("amente"),
        1, "",
        [
            ((("iv",), 2, (("at",), 2)),),
            ((("os", "ic", "ad"), 2, None),),
        ],
    ),
    (_folded("mente"), 2, "", [((("ante", "able", "ible"), 2, None),)]),
    (_folded("idades", "idad"), 2, "", [((("abil", "ic", "iv"), 2, None),)]),
    (_folded("ivas", "ivos", "iva", "ivo"), 2, "", [((("at",), 2, None),)]),
]

ES_STEP2A = _folded(
    "yeron", "yendo", "yamos", "yais", "yan", "yen", "yas", "yes",
    "ya", "ye", "yo", "yó",
)

# step 2b subgroup whose `gu` loses its u after the delete
ES_STEP2B_GU = _folded("éis", "emos", "en", "es")
ES_STEP2B = _folded(
    "aríamos", "eríamos", "iríamos", "iéramos", "iésemos",
    "aríais", "aseis", "eríais", "iríais", "ieseis", "asteis", "isteis",
    "ábamos", "áramos", "ásemos",
    "arían", "arías", "aréis", "erían", "erías", "eréis",
    "irían", "irías", "iréis", "ierais", "ieran", "iesen", "ieron",
    "iendo", "ieras", "ieses", "abais", "arais", "íamos",
    "aremos", "eremos", "iremos",
    "arán", "arás", "aría", "erán", "erás", "ería", "irán", "irás",
    "iría", "iera", "iese", "aste", "iste", "aban", "aran", "asen",
    "aron", "ando", "abas", "adas", "idas", "aras", "ases", "íais",
    "ados", "idos", "amos", "imos",
    "ará", "aré", "erá", "eré", "irá", "iré", "aba", "ada", "ida",
    "ara", "ase", "ían", "ado", "ido", "ías", "áis",
    "ía", "ad", "ed", "id", "an", "ió", "ar", "er", "ir", "as",
    "ís",
)

ES_STEP3_DELETE = _folded("os", "a", "o", "á", "í", "ó")
ES_STEP3_E = _folded("e", "é")

# English suffix maps (Porter2). Conditions beyond the region are coded
# in the evaluators; the data here is shared by both.
EN_EXCEPTIONS = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
EN_EXCEPTIONS_1A = (
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed",
)
EN_STEP2 = [
    ("ization", "ize"), ("ational", "ate"), ("fulness", "ful"),
    ("ousness", "ous"), ("iveness", "ive"), ("tional", "tion"),
    ("biliti", "ble"), ("lessli", "less"), ("entli", "ent"),
    ("ation", "ate"), ("alism", "al"), ("aliti", "al"), ("ousli", "ous"),
    ("iviti", "ive"), ("fulli", "ful"), ("enci", "ence"), ("anci", "ance"),
    ("abli", "able"), ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
    ("ogi", "og"),  # only if preceded by l
    ("bli", "ble"),
    ("li", ""),  # only if preceded by a valid li-ending
]
EN_STEP3 = [
    ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
    ("icate", "ic"), ("iciti", "ic"), ("ative", ""),  # ative needs R2
    ("ical", "ic"), ("ness", ""), ("ful", ""),
]
EN_STEP4 = [
    "ement", "ance", "ence", "able", "ible", "ment",
    "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
    "ion",  # only if preceded by s or t
    "al", "er", "ic",
]

_BIG = 999  # "region start not found" sentinel (past any token length)


# ---------------------------------------------------------------------------
# regions (Python)
# ---------------------------------------------------------------------------


def _r_after(w: str, start: int, vowels: str) -> int:
    """Start of the region after the first non-vowel following a vowel,
    scanning from ``start``; len(w) if absent (Snowball R1/R2 rule)."""
    i = start
    n = len(w)
    while i < n and w[i] not in vowels:
        i += 1
    while i < n and w[i] in vowels:
        i += 1
    return i + 1 if i < n else n


def _regions_en(w: str) -> tuple[int, int]:
    for pre, r1 in (("gener", 5), ("commun", 6), ("arsen", 5)):
        if w.startswith(pre):
            return r1, _r_after(w, r1, V_EN)
    r1 = _r_after(w, 0, V_EN)
    return r1, _r_after(w, r1, V_EN)


def _rv_es(w: str) -> int:
    n = len(w)
    if n < 3:
        return n
    if w[1] not in V_ES:
        i = 2
        while i < n and w[i] not in V_ES:
            i += 1
        return i + 1 if i < n else n
    if w[0] in V_ES and w[1] in V_ES:
        i = 2
        while i < n and w[i] in V_ES:
            i += 1
        return i + 1 if i < n else n
    return 3


# ---------------------------------------------------------------------------
# Spanish — Python evaluator
# ---------------------------------------------------------------------------


def _longest(w: str, suffixes) -> str | None:
    best = None
    for s in suffixes:
        if w.endswith(s) and (best is None or len(s) > len(best)):
            best = s
    return best


def _longest_rv(w: str, suffixes, rv: int) -> str | None:
    """Longest suffix that lies ENTIRELY within RV. The official
    script's ``setlimit tomark pV`` makes RV a MATCH constraint for
    steps 0/2a/2b/3 (a longer suffix crossing the RV boundary cannot
    match, and a shorter RV-contained one does — e.g. 'clases': 'ases'
    crosses RV, 'es' matches → 'clas'), unlike step 1's R1/R2 which
    are post-tests on the longest match."""
    best = None
    for s in suffixes:
        if (
            w.endswith(s)
            and len(w) - len(s) >= rv
            and (best is None or len(s) > len(best))
        ):
            best = s
    return best


def _es_step0(w: str, rv: int) -> str:
    p = _longest_rv(w, ES_PRONOUNS, rv)
    if p is None:
        return w
    base = w[: len(w) - len(p)]
    b = _longest(base, ES_P0_BASES)
    if b is not None and len(base) - len(b) >= rv:
        return base
    if base.endswith("yendo") and len(base) - 5 >= rv and len(base) >= 6 and base[-6] == "u":
        return base
    return w


def _es_step1(w: str, r1: int, r2: int) -> str:
    # longest suffix across ALL groups decides the rule
    best: tuple[str, int, str, list] | None = None
    for suffixes, region, repl, secondary in ES_STEP1:
        s = _longest(w, suffixes)
        if s is not None and (best is None or len(s) > len(best[0])):
            best = (s, region, repl, secondary)
    if best is None:
        return w
    sfx, region, repl, secondary = best
    start = len(w) - len(sfx)
    if start < (r1 if region == 1 else r2):
        return w
    out = w[:start] + repl
    for alternative in secondary:
        (sufs, sregion, then) = alternative[0]
        s = _longest(out, sufs)
        if s is None:
            continue
        if len(out) - len(s) < (r1 if sregion == 1 else r2):
            continue  # Snowball `or`: backtrack to the next alternative
        out = out[: len(out) - len(s)]
        if then is not None:
            tsufs, tregion = then
            t = _longest(out, tsufs)
            if t is not None and len(out) - len(t) >= (r1 if tregion == 1 else r2):
                out = out[: len(out) - len(t)]
        break
    return out


def _es_step2a(w: str, rv: int) -> str:
    s = _longest_rv(w, ES_STEP2A, rv)
    if s is None:
        return w
    start = len(w) - len(s)
    if start >= 1 and w[start - 1] == "u":
        return w[:start]
    return w


def _es_step2b(w: str, rv: int) -> str:
    s = _longest_rv(w, ES_STEP2B_GU + ES_STEP2B, rv)
    if s is None:
        return w
    out = w[: len(w) - len(s)]
    if s in ES_STEP2B_GU and out.endswith("gu"):
        out = out[:-1]
    return out


def _es_step3(w: str, rv: int) -> str:
    s = _longest_rv(w, ES_STEP3_DELETE + ES_STEP3_E, rv)
    if s is None:
        return w
    out = w[: len(w) - len(s)]
    if s in ES_STEP3_E and out.endswith("gu") and len(out) - 1 >= rv:
        out = out[:-1]
    return out


@lru_cache(maxsize=65536)
def stem_es_py(token: str) -> str:
    w = fold(token.lower())
    r1 = _r_after(w, 0, V_ES)
    r2 = _r_after(w, r1, V_ES)
    rv = _rv_es(w)
    w = _es_step0(w, rv)
    w1 = _es_step1(w, r1, r2)
    if w1 == w:
        w2 = _es_step2a(w1, rv)
        if w2 == w1:
            w2 = _es_step2b(w2, rv)
    else:
        w2 = w1
    return _es_step3(w2, rv)


# ---------------------------------------------------------------------------
# English — Python evaluator
# ---------------------------------------------------------------------------


def _mark_y(w: str) -> str:
    out = list(w)
    if out and out[0] == "y":
        out[0] = "Y"
    for i in range(1, len(out)):
        if out[i] == "y" and out[i - 1] in V_EN:
            out[i] = "Y"
    return "".join(out)


def _ends_short_syllable(w: str) -> bool:
    if len(w) == 2:
        return w[0] in V_EN and w[1] not in V_EN
    return (
        len(w) >= 3
        and w[-2] in V_EN
        and w[-1] not in V_EN
        and w[-1] not in "wxY"
        and w[-3] not in V_EN
    )


def _en_1b(w: str, r1: int) -> str:
    s = _longest(w, ("eedly", "ingly", "edly", "eed", "ing", "ed"))
    if s is None:
        return w
    start = len(w) - len(s)
    if s in ("eed", "eedly"):
        return w[:start] + "ee" if start >= r1 else w
    base = w[:start]
    if not any(c in V_EN for c in base):
        return w
    if base.endswith(("at", "bl", "iz")):
        return base + "e"
    if base.endswith(_EN_DOUBLES):
        return base[:-1]
    if r1 >= len(base) and _ends_short_syllable(base):
        return base + "e"
    return base


def _en_step_map(w: str, r1: int, r2: int, table, is3: bool) -> str:
    best = None
    for sfx, repl in table:
        if w.endswith(sfx) and (best is None or len(sfx) > len(best[0])):
            best = (sfx, repl)
    if best is None:
        return w
    sfx, repl = best
    start = len(w) - len(sfx)
    if is3 and sfx == "ative":
        return w[:start] if start >= r2 else w
    if start < r1:
        return w
    if sfx == "ogi" and not (start >= 1 and w[start - 1] == "l"):
        return w
    if sfx == "li" and not (start >= 1 and w[start - 1] in _EN_LI_END):
        return w
    return w[:start] + repl


@lru_cache(maxsize=65536)
def stem_en_py(token: str) -> str:
    w = fold(token.lower())
    if len(w) <= 2:
        return w
    if w in EN_EXCEPTIONS:
        return EN_EXCEPTIONS[w]
    if w[0] == "'":
        w = w[1:]
    w = _mark_y(w)
    r1, r2 = _regions_en(w)
    # step 0
    for s in ("'s'", "'s", "'"):
        if w.endswith(s):
            w = w[: len(w) - len(s)]
            break
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith(("ied", "ies")):
        w = w[:-3] + ("i" if len(w) > 4 else "ie")
    elif w.endswith(("us", "ss")):
        pass
    elif w.endswith("s") and any(c in V_EN for c in w[:-2]):
        w = w[:-1]
    if w in EN_EXCEPTIONS_1A:
        return w
    w = _en_1b(w, r1)
    # step 1c
    if len(w) > 2 and w[-1] in "yY" and w[-2] not in V_EN:
        w = w[:-1] + "i"
    w = _en_step_map(w, r1, r2, EN_STEP2, is3=False)
    w = _en_step_map(w, r1, r2, EN_STEP3, is3=True)
    # step 4
    s = _longest(w, EN_STEP4)
    if s is not None:
        start = len(w) - len(s)
        if start >= r2 and (s != "ion" or (start >= 1 and w[start - 1] in "st")):
            w = w[:start]
    # step 5
    if w.endswith("e"):
        if len(w) - 1 >= r2 or (len(w) - 1 >= r1 and not _ends_short_syllable(w[:-1])):
            w = w[:-1]
    elif w.endswith("l") and len(w) - 1 >= r2 and len(w) >= 2 and w[-2] == "l":
        w = w[:-1]
    return w.replace("Y", "y")


def stem_word_py(token: str, language: str = "spanish") -> str:
    return stem_es_py(token) if language == "spanish" else stem_en_py(token)


# ---------------------------------------------------------------------------
# generated DuckDB SQL — ONE generator per language step over an
# expression backend. Every step is a CASE whose branches reference
# only the reduce lambda's accumulator, so the whole stemmer is a
# single linear-size expression (see module docstring).
# ---------------------------------------------------------------------------


class _SqlB:
    """DuckDB SQL expression backend (strings)."""

    @staticmethod
    def _q(s):
        return "'" + s.replace("'", "''") + "'"

    def lit_s(self, s):
        return self._q(s)

    def lit_i(self, n):
        return str(n)

    def lit_b(self, b):
        return "true" if b else "false"

    def if_(self, c, a, b):
        return f"(CASE WHEN {c} THEN {a} ELSE {b} END)"

    def case(self, pairs, else_):
        if not pairs:
            return else_
        whens = " ".join(f"WHEN {c} THEN {v}" for c, v in pairs)
        return f"(CASE {whens} ELSE {else_} END)"

    def and_(self, *cs):
        return "(" + " AND ".join(cs) + ")"

    def or_(self, *cs):
        return "(" + " OR ".join(cs) + ")"

    def not_(self, c):
        return f"(NOT {c})"

    def eq(self, a, b):
        return f"({a} = {b})"

    def ge(self, a, b):
        return f"({a} >= {b})"

    def gt(self, a, b):
        return f"({a} > {b})"

    def add(self, a, b):
        return f"({a} + {b})"

    def sub(self, a, b):
        return f"({a} - {b})"

    def length(self, w):
        return f"length({w})"

    def endswith(self, w, s):
        return f"ends_with({w}, {self._q(s)})"

    def startswith(self, w, s):
        return f"starts_with({w}, {self._q(s)})"

    def in_strs(self, w, options):
        return f"({w} IN ({', '.join(self._q(o) for o in options)}))"

    def drop_end(self, w, k):
        return f"left({w}, length({w}) - {k})"

    def drop_first(self, w):
        return f"substr({w}, 2)"

    def append(self, w, s):
        return f"({w} || {self._q(s)})"

    def char_before_suffix(self, w, k):
        return f"substr({w}, length({w}) - {k}, 1)"

    def char_at(self, w, i):
        return f"substr({w}, {i}, 1)"

    def char_in(self, c, chars):
        return f"({c} IN ({', '.join(self._q(ch) for ch in chars)}))"

    def rlike(self, w, pat):
        return f"regexp_matches({w}, {self._q(pat)})"

    def regexp_extract_len(self, w, pat):
        return f"length(regexp_extract({w}, {self._q(pat)}))"

    def substr_from(self, w, pos):
        return f"substr({w}, {pos})"

    def mark_y(self, w):
        inner = f"regexp_replace({w}, '^y', 'Y')"
        return f"regexp_replace({inner}, '([aeiouy])y', '\\1Y', 'g')"

    def fold_lower(self, t):
        # strip_accents == the Python _FOLD table on every character
        # the B1 token stream (and the Hypothesis alphabet) can carry
        return f"strip_accents(lower({t}))"

    def struct5(self, w, r1, r2, rv, f):
        return f"{{'w': {w}, 'r1': {r1}, 'r2': {r2}, 'rv': {rv}, 'f': {f}}}"

    def get(self, acc, field):
        return f"{acc}.{field}"


def _keep(B, acc, new_w, set_f=None):
    """Rebuild the accumulator with a new word (regions are absolute
    positions and never change)."""
    f = B.get(acc, "f") if set_f is None else B.lit_b(set_f)
    return B.struct5(new_w, B.get(acc, "r1"), B.get(acc, "r2"), B.get(acc, "rv"), f)


def _r1r2(B, w, vowels):
    pat = f"^[^{vowels}]*[{vowels}]+[^{vowels}]"
    el1 = B.regexp_extract_len(w, pat)
    r1 = B.if_(B.eq(el1, B.lit_i(0)), B.lit_i(_BIG), el1)
    el2 = B.regexp_extract_len(B.substr_from(w, B.add(r1, B.lit_i(1))), pat)
    r2 = B.if_(B.eq(el2, B.lit_i(0)), B.lit_i(_BIG), B.add(r1, el2))
    return r1, r2


# -- Spanish ---------------------------------------------------------------


def _init_es(B, t):
    w = B.fold_lower(t)
    r1, r2 = _r1r2(B, w, V_ES)
    el_a = B.regexp_extract_len(w, f"^..[^{V_ES}]*[{V_ES}]")
    el_b = B.regexp_extract_len(w, f"^..[{V_ES}]*[^{V_ES}]")
    rv = B.if_(
        B.gt(B.lit_i(3), B.length(w)),
        B.lit_i(_BIG),
        B.case(
            [
                (
                    B.not_(B.char_in(B.char_at(w, 2), V_ES)),
                    B.if_(B.eq(el_a, B.lit_i(0)), B.lit_i(_BIG), el_a),
                ),
                (
                    B.char_in(B.char_at(w, 1), V_ES),
                    B.if_(B.eq(el_b, B.lit_i(0)), B.lit_i(_BIG), el_b),
                ),
            ],
            B.lit_i(3),
        ),
    )
    return B.struct5(w, r1, r2, rv, B.lit_b(False))


def _in_region(B, acc, w, sfx_len, region):
    start = B.sub(B.length(w), B.lit_i(sfx_len))
    return B.ge(start, B.get(acc, {1: "r1", 2: "r2", 3: "rv"}[region]))


def _es_step0_g(B, acc):
    w = B.get(acc, "w")
    rv = B.get(acc, "rv")
    pairs = []
    # RV is a MATCH constraint here (setlimit in the official script):
    # a pronoun crossing the RV boundary does not match, and a shorter
    # in-RV pronoun takes its place — hence inside the WHEN condition
    for p in sorted(ES_PRONOUNS, key=len, reverse=True):
        base = B.drop_end(w, len(p))
        conds = []
        for b in ES_P0_BASES:
            conds.append(
                B.and_(
                    B.endswith(base, b),
                    B.ge(B.sub(B.length(base), B.lit_i(len(b))), rv),
                )
            )
        conds.append(
            B.and_(
                B.endswith(base, "uyendo"),
                B.ge(B.sub(B.length(base), B.lit_i(5)), rv),
            )
        )
        matched = B.and_(
            B.endswith(w, p), B.ge(B.sub(B.length(w), B.lit_i(len(p))), rv)
        )
        pairs.append((matched, B.if_(B.or_(*conds), _keep(B, acc, base), acc)))
    return B.case(pairs, acc)


def _es_step1_g(B, acc):
    w = B.get(acc, "w")
    flat = []
    for suffixes, region, repl, secondary in ES_STEP1:
        for s in suffixes:
            flat.append((s, region, repl, secondary))
    flat.sort(key=lambda x: len(x[0]), reverse=True)
    pairs = []
    for sfx, region, repl, secondary in flat:
        out = B.drop_end(w, len(sfx))
        if repl:
            out = B.append(out, repl)
        if secondary:
            sec_pairs = []
            for alternative in secondary:
                sufs, sregion, then = alternative[0]
                for s2 in sorted(sufs, key=len, reverse=True):
                    cond = B.and_(
                        B.endswith(out, s2),
                        B.ge(
                            B.sub(B.length(out), B.lit_i(len(s2))),
                            B.get(acc, {1: "r1", 2: "r2"}[sregion]),
                        ),
                    )
                    dropped = B.drop_end(out, len(s2))
                    if then is not None:
                        tsufs, tregion = then
                        t_pairs = []
                        for s3 in sorted(tsufs, key=len, reverse=True):
                            t_pairs.append(
                                (
                                    B.and_(
                                        B.endswith(dropped, s3),
                                        B.ge(
                                            B.sub(B.length(dropped), B.lit_i(len(s3))),
                                            B.get(acc, {1: "r1", 2: "r2"}[tregion]),
                                        ),
                                    ),
                                    B.drop_end(dropped, len(s3)),
                                )
                            )
                        dropped = B.case(t_pairs, dropped)
                    sec_pairs.append((cond, dropped))
            out = B.case(sec_pairs, out)
        pairs.append(
            (
                B.endswith(w, sfx),
                B.if_(
                    _in_region(B, acc, w, len(sfx), region),
                    _keep(B, acc, out, set_f=True),
                    acc,
                ),
            )
        )
    return B.case(pairs, acc)


def _es_step2a_g(B, acc):
    w = B.get(acc, "w")
    rv = B.get(acc, "rv")
    pairs = []
    # RV match-constrained (see _longest_rv); the preceding-u test is a
    # post-test on the longest in-RV match, with no shorter retry
    for s in sorted(ES_STEP2A, key=len, reverse=True):
        matched = B.and_(
            B.endswith(w, s),
            B.ge(B.sub(B.length(w), B.lit_i(len(s))), rv),
        )
        u_ok = B.and_(
            B.gt(B.sub(B.length(w), B.lit_i(len(s))), B.lit_i(0)),
            B.eq(B.char_before_suffix(w, len(s)), B.lit_s("u")),
        )
        pairs.append(
            (
                matched,
                B.if_(u_ok, _keep(B, acc, B.drop_end(w, len(s)), set_f=True), acc),
            )
        )
    return B.if_(B.get(acc, "f"), acc, B.case(pairs, acc))


def _es_step2b_g(B, acc):
    w = B.get(acc, "w")
    rv = B.get(acc, "rv")
    alls = [(s, True) for s in ES_STEP2B_GU] + [(s, False) for s in ES_STEP2B]
    alls.sort(key=lambda x: len(x[0]), reverse=True)
    pairs = []
    for s, is_gu in alls:
        out = B.drop_end(w, len(s))
        if is_gu:
            out = B.if_(B.endswith(out, "gu"), B.drop_end(out, 1), out)
        matched = B.and_(
            B.endswith(w, s),
            B.ge(B.sub(B.length(w), B.lit_i(len(s))), rv),
        )
        pairs.append((matched, _keep(B, acc, out)))
    return B.if_(B.get(acc, "f"), acc, B.case(pairs, acc))


def _es_step3_g(B, acc):
    w = B.get(acc, "w")
    rv = B.get(acc, "rv")
    alls = [(s, False) for s in ES_STEP3_DELETE] + [(s, True) for s in ES_STEP3_E]
    alls.sort(key=lambda x: len(x[0]), reverse=True)
    pairs = []
    for s, is_e in alls:
        out = B.drop_end(w, len(s))
        if is_e:
            out = B.if_(
                B.and_(
                    B.endswith(out, "gu"),
                    B.ge(B.sub(B.length(out), B.lit_i(1)), rv),
                ),
                B.drop_end(out, 1),
                out,
            )
        matched = B.and_(
            B.endswith(w, s),
            B.ge(B.sub(B.length(w), B.lit_i(len(s))), rv),
        )
        pairs.append((matched, _keep(B, acc, out)))
    return B.case(pairs, acc)


_ES_STEPS = [_es_step0_g, _es_step1_g, _es_step2a_g, _es_step2b_g, _es_step3_g]


# -- English ---------------------------------------------------------------


def _init_en(B, t):
    # the short-word and exception tests see the token BEFORE the
    # initial apostrophe is removed (stem_en_py's order)
    t = B.fold_lower(t)
    w = B.mark_y(B.if_(B.startswith(t, "'"), B.drop_first(t), t))
    r1_std, _ = _r1r2(B, w, V_EN)
    r1 = B.case(
        [
            (B.startswith(w, "gener"), B.lit_i(5)),
            (B.startswith(w, "commun"), B.lit_i(6)),
            (B.startswith(w, "arsen"), B.lit_i(5)),
        ],
        r1_std,
    )
    pat = f"^[^{V_EN}]*[{V_EN}]+[^{V_EN}]"
    el2 = B.regexp_extract_len(B.substr_from(w, B.add(r1, B.lit_i(1))), pat)
    r2 = B.if_(B.eq(el2, B.lit_i(0)), B.lit_i(_BIG), B.add(r1, el2))
    normal = B.struct5(w, r1, r2, B.lit_i(_BIG), B.lit_b(False))
    exc_pairs = [
        (B.eq(t, B.lit_s(k)), B.struct5(B.lit_s(v), B.lit_i(_BIG), B.lit_i(_BIG), B.lit_i(_BIG), B.lit_b(True)))
        for k, v in EN_EXCEPTIONS.items()
    ]
    short = B.struct5(t, B.lit_i(_BIG), B.lit_i(_BIG), B.lit_i(_BIG), B.lit_b(True))
    return B.case(exc_pairs, B.if_(B.gt(B.lit_i(3), B.length(t)), short, normal))


def _halted(B, acc, expr):
    return B.if_(B.get(acc, "f"), acc, expr)


def _en_step0_g(B, acc):
    w = B.get(acc, "w")
    pairs = [
        (B.endswith(w, s), _keep(B, acc, B.drop_end(w, len(s))))
        for s in ("'s'", "'s", "'")
    ]
    return _halted(B, acc, B.case(pairs, acc))


def _vowel_in_prefix(B, w, drop):
    return B.rlike(B.drop_end(w, drop), f"[{V_EN}]")


def _en_step1a_g(B, acc):
    w = B.get(acc, "w")
    ie = B.if_(
        B.gt(B.length(w), B.lit_i(4)),
        B.append(B.drop_end(w, 3), "i"),
        B.append(B.drop_end(w, 3), "ie"),
    )
    pairs = [
        (B.endswith(w, "sses"), _keep(B, acc, B.drop_end(w, 2))),
        (B.or_(B.endswith(w, "ied"), B.endswith(w, "ies")), _keep(B, acc, ie)),
        (B.or_(B.endswith(w, "us"), B.endswith(w, "ss")), acc),
        (
            B.endswith(w, "s"),
            B.if_(_vowel_in_prefix(B, w, 2), _keep(B, acc, B.drop_end(w, 1)), acc),
        ),
    ]
    step = B.case(pairs, acc)
    return _halted(B, acc, step)


def _en_exc1a_g(B, acc):
    w = B.get(acc, "w")
    return _halted(
        B, acc, B.if_(B.in_strs(w, list(EN_EXCEPTIONS_1A)), _keep(B, acc, w, set_f=True), acc)
    )


def _ends_short_syllable_g(B, w):
    return B.or_(
        B.rlike(w, f"^[{V_EN}][^{V_EN}]$"),
        B.rlike(w, f"[^{V_EN}][{V_EN}][^{V_EN}wxY]$"),
    )


def _en_step1b_g(B, acc):
    w = B.get(acc, "w")
    r1 = B.get(acc, "r1")
    pairs = []
    for s in ("eedly", "ingly", "edly", "eed", "ing", "ed"):
        k = len(s)
        if s in ("eed", "eedly"):
            action = B.if_(
                B.ge(B.sub(B.length(w), B.lit_i(k)), r1),
                _keep(B, acc, B.append(B.drop_end(w, k), "ee")),
                acc,
            )
        else:
            base = B.drop_end(w, k)
            post = B.case(
                [
                    (
                        B.or_(*[B.endswith(base, e) for e in ("at", "bl", "iz")]),
                        B.append(base, "e"),
                    ),
                    (
                        B.or_(*[B.endswith(base, d) for d in _EN_DOUBLES]),
                        B.drop_end(base, 1),
                    ),
                    (
                        B.and_(
                            B.ge(r1, B.length(base)),
                            _ends_short_syllable_g(B, base),
                        ),
                        B.append(base, "e"),
                    ),
                ],
                base,
            )
            action = B.if_(_vowel_in_prefix(B, w, k), _keep(B, acc, post), acc)
        pairs.append((B.endswith(w, s), action))
    return _halted(B, acc, B.case(pairs, acc))


def _en_step1c_g(B, acc):
    w = B.get(acc, "w")
    cond = B.and_(
        B.gt(B.length(w), B.lit_i(2)),
        B.or_(B.endswith(w, "y"), B.endswith(w, "Y")),
        B.not_(B.char_in(B.char_before_suffix(w, 1), V_EN)),
    )
    return _halted(B, acc, B.if_(cond, _keep(B, acc, B.append(B.drop_end(w, 1), "i")), acc))


def _en_map_step_g(B, acc, table, is3):
    w = B.get(acc, "w")
    r1 = B.get(acc, "r1")
    r2 = B.get(acc, "r2")
    pairs = []
    for sfx, repl in sorted(table, key=lambda x: len(x[0]), reverse=True):
        k = len(sfx)
        region = r2 if (is3 and sfx == "ative") else r1
        cond = B.ge(B.sub(B.length(w), B.lit_i(k)), region)
        if sfx == "ogi":
            cond = B.and_(cond, B.eq(B.char_before_suffix(w, k), B.lit_s("l")))
        if sfx == "li":
            cond = B.and_(cond, B.char_in(B.char_before_suffix(w, k), _EN_LI_END))
        out = B.drop_end(w, k)
        if repl:
            out = B.append(out, repl)
        pairs.append((B.endswith(w, sfx), B.if_(cond, _keep(B, acc, out), acc)))
    return _halted(B, acc, B.case(pairs, acc))


def _en_step2_g(B, acc):
    return _en_map_step_g(B, acc, EN_STEP2, is3=False)


def _en_step3_g(B, acc):
    return _en_map_step_g(B, acc, EN_STEP3, is3=True)


def _en_step4_g(B, acc):
    w = B.get(acc, "w")
    r2 = B.get(acc, "r2")
    pairs = []
    for sfx in sorted(EN_STEP4, key=len, reverse=True):
        k = len(sfx)
        cond = B.ge(B.sub(B.length(w), B.lit_i(k)), r2)
        if sfx == "ion":
            cond = B.and_(cond, B.char_in(B.char_before_suffix(w, k), "st"))
        pairs.append((B.endswith(w, sfx), B.if_(cond, _keep(B, acc, B.drop_end(w, k)), acc)))
    return _halted(B, acc, B.case(pairs, acc))


def _en_step5_g(B, acc):
    w = B.get(acc, "w")
    r1 = B.get(acc, "r1")
    r2 = B.get(acc, "r2")
    pos = B.sub(B.length(w), B.lit_i(1))
    e_cond = B.or_(
        B.ge(pos, r2),
        B.and_(B.ge(pos, r1), B.not_(_ends_short_syllable_g(B, B.drop_end(w, 1)))),
    )
    l_cond = B.and_(B.ge(pos, r2), B.eq(B.char_before_suffix(w, 1), B.lit_s("l")))
    pairs = [
        (B.endswith(w, "e"), B.if_(e_cond, _keep(B, acc, B.drop_end(w, 1)), acc)),
        (B.endswith(w, "l"), B.if_(l_cond, _keep(B, acc, B.drop_end(w, 1)), acc)),
    ]
    return _halted(B, acc, B.case(pairs, acc))


_EN_STEPS = [
    _en_step0_g, _en_step1a_g, _en_exc1a_g, _en_step1b_g, _en_step1c_g,
    _en_step2_g, _en_step3_g, _en_step4_g, _en_step5_g,
]


def _steps_for(language: str):
    if language == "spanish":
        return _ES_STEPS, _init_es, False
    return _EN_STEPS, _init_en, True


# -- public generated surface ---------------------------------------------


def stem_word_sql(token_expr: str, language: str = "spanish") -> str:
    """The identical reduce as DuckDB SQL over one token expression."""
    steps, init, unmark = _steps_for(language)
    B = _SqlB()
    markers = ", ".join(
        f"{{'w': NULL, 'r1': {i}, 'r2': 0, 'rv': 0, 'f': false}}"
        for i in range(len(steps))
    )
    pairs = [
        (f"(x.r1 = {i})", gen(B, "a")) for i, gen in enumerate(steps)
    ]
    body = B.case(pairs, "a")
    reduced = (
        f"list_reduce([{init(B, token_expr)}, {markers}], (a, x) -> {body})"
    )
    w = f"({reduced}).w"
    return f"regexp_replace({w}, 'Y', 'y', 'g')" if unmark else w


def stem_list_sql(list_expr: str, language: str = "spanish", var: str = "snowtok") -> str:
    """Element-wise full-Snowball stem of a token-list SQL expression."""
    return f"list_transform({list_expr}, {var} -> {stem_word_sql(var, language)})"
