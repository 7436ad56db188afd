"""Generic linear-path Cypher compiler (verdict-r5 item 3).

Rounds 1-5 grew 13 regex TEMPLATES in compat/ir.py, one per observed
query shape. This module replaces template dispatch with one compiler
for the grammar that actually generalizes them — ANCHORED LINEAR
PATTERNS, the only Cypher shape the reference emits
(streamlit_app.py:50, 60-64 are both linear anchored paths):

    MATCH (a[:Label] [{id: $p}]) [-[r:SIMILAR[*lo..hi]]-> | <-[..]- | -[..]-] (b) ...
    [OPTIONAL MATCH (bound)-[r2:SIMILAR]->(c)]
    [WHERE conjuncts]            # attaches to the preceding MATCH
    [WITH items [WHERE having]]
    RETURN items [ORDER BY ...] [LIMIT $k|int]

Supported WHERE atoms: ``rel.similitud CMP $p|literal``,
``node.prop CMP $p|literal`` (id anchors push into the edge scan;
other props join the nodes frame), ``node.id IN $list``, and the
var-length weight guard ``all(x IN rs WHERE x.similitud >= $lo AND
x.similitud <= $hi)``. RETURN/WITH items: ``var.prop AS alias``,
``count(var) AS alias``, ``length(rs) AS alias``, bare aliases after
WITH. Anything else raises ``CypherUnsupported`` — never a silent
misread. ``shortestPath`` keeps its dedicated BFS route in compat.ir
(path-function semantics, not a linear relational chain).

Compilation strategy (the 100 TB shape the templates pinned):
- Per-hop relationship guards are pushed into that hop's edge-scan
  filter BEFORE any join (predicate pushdown by construction).
- An id-anchored first node compiles to ``src == lit`` / ``isin`` on
  the first hop's scan — no join materializes the anchor.
- Each subsequent hop joins the (tiny, anchored) accumulated chain
  BROADCAST into one pass over the filtered edge scan; the corpus-
  sized side never shuffles. Unanchored chains fall back to Spark's
  own join selection (AQE).
- Node-property predicates join the property-filtered nodes scan with
  the broadcast chain (the template-8 plan, pinned in test_plans.py).
- An anchored UNDIRECTED first hop stays ONE scan (touching-filter +
  orient-outward), matching template 4; later undirected hops read
  the edge frame twice (forward + reversed union).
- ``ORDER BY ... LIMIT`` lowers to TakeOrderedAndProject; aggregates
  to two-phase hash aggregates; var-length hops to the hop-bounded
  frontier BFS (min-hop endpoint semantics, the documented
  divergence), all exactly as the templates did.

Var-length hops (round-6 second session): a chain-OPENING var-length
hop is a single-seed frontier BFS; a MID-CHAIN one batch-BFSes from
every value the bound variable takes (multi_source_bfs — the anchored
chain's endpoint set is driver-sized by construction, so the seeds
collect is model-sized, not data). Both compose with further hops.
Restrictions: hop_lo >= 1, the chain must be anchored, and var-length
inside OPTIONAL MATCH raises.

One shape also has a driver answer, ``hop_table``: a single outgoing
hop from ``{id: $p}`` that filters on the hop's ``similitud`` and
returns ids and the similitud. Compiled, it is a filter and a
projection of the anchor's edges, so it can be read straight from the
anchor's (src, dst, similitud) Arrow table.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from providenciasbigdata_spark.compat.graph import similitud_mask
from providenciasbigdata_spark.session import local_frame


class CypherUnsupported(ValueError):
    """Query parses outside the linear-anchored-path grammar."""


# ---- lexical pieces -------------------------------------------------------

_NODE_PAT = re.compile(
    r"^\(\s*(\w+)\s*(?::\s*(\w+))?\s*"
    r"(?:\{\s*id\s*:\s*(?:\$(\w+)|(\w+))\s*\})?\s*\)"
)
_REL_PAT = re.compile(
    r"^(<?)\s*-\s*\[\s*(\w*)\s*(?::\s*(\w+))?\s*"
    r"(?:(\*)\s*(\d+)\s*\.\.\s*(\d+))?\s*\]\s*-\s*(>?)"
)
_CLAUSE_RE = re.compile(
    r"\b(OPTIONAL\s+MATCH|MATCH|WHERE|WITH|UNWIND|RETURN|ORDER\s+BY|SKIP|LIMIT)\b",
    re.I,
)
_ALL_RE = re.compile(
    r"^ALL\s*\(\s*(\w+)\s+IN\s+(\w+)\s+WHERE\s+"
    r"\1\.similitud\s*>=\s*(\$\w+|-?\d+(?:\.\d+)?)\s+AND\s+"
    r"\1\.similitud\s*<=\s*(\$\w+|-?\d+(?:\.\d+)?)\s*\)$",
    re.I,
)
_VALUE = r"(\$\w+|-?\d+(?:\.\d+)?|'[^']*')"
_CMP_RE = re.compile(rf"^(\w+)\.(\w+)\s*(>=|<=|<>|>|<|=)\s*{_VALUE}$")
_BARE_CMP_RE = re.compile(rf"^(\w+)\s*(>=|<=|<>|>|<|=)\s*{_VALUE}$")
_IN_RE = re.compile(r"^(\w+)\.(\w+)\s+IN\s+(\$\w+)$", re.I)
_ITEM_PROP_RE = re.compile(r"^(\w+)\.(\w+)\s+AS\s+(\w+)$", re.I)
_ITEM_COUNT_RE = re.compile(
    r"^count\s*\(\s*(DISTINCT\s+)?(\w+)(?:\.(\w+))?\s*\)\s+AS\s+(\w+)$", re.I
)
_ITEM_COLLECT_RE = re.compile(
    r"^collect\s*\(\s*(DISTINCT\s+)?(\w+)(?:\.(\w+))?\s*\)\s+AS\s+(\w+)$", re.I
)

# item kinds that compile to aggregate functions
_AGG_KINDS = ("count", "countd", "countstar", "collect", "collectd")
_ITEM_COUNT_STAR_RE = re.compile(r"^count\s*\(\s*\*\s*\)\s+AS\s+(\w+)$", re.I)
_ITEM_AGG_RE = re.compile(
    r"^(sum|avg|min|max|stDev|stDevP)\s*\(\s*(\w+)\.(\w+)\s*\)\s+AS\s+(\w+)$",
    re.I,
)
# percentileCont(v.prop, p) — Neo4j's exact interpolated percentile
_ITEM_PCTC_RE = re.compile(
    r"^percentileCont\s*\(\s*(\w+)\.(\w+)\s*,\s*(\d*\.?\d+)\s*\)\s+AS\s+(\w+)$",
    re.I,
)
_ITEM_LEN_RE = re.compile(r"^length\s*\(\s*(\w+)\s*\)\s+AS\s+(\w+)$", re.I)
_ORDER_RE = re.compile(r"^(\w+(?:\.\w+)?)(?:\s+(ASC|DESC))?$", re.I)

_OPS = {
    ">=": lambda c, v: c >= v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    "<": lambda c, v: c < v,
    "=": lambda c, v: c == v,
    "<>": lambda c, v: c != v,
}


def _extract_exists_guards(text: str):
    """Pull brace-balanced ``EXISTS { ... }`` blocks out before clause
    splitting (their bodies contain MATCH/WHERE keywords). The optional
    ``NOT`` stays in the surrounding text and is parsed as part of the
    WHERE atom."""
    blocks: list[str] = []
    out = []
    i = 0
    for m in re.finditer(r"\bEXISTS\s*\{", text, re.I):
        if m.start() < i:
            continue
        depth = 1
        j = m.end()
        while j < len(text) and depth:
            if text[j] == "{":
                depth += 1
            elif text[j] == "}":
                depth -= 1
            j += 1
        if depth:
            raise CypherUnsupported("unbalanced braces in EXISTS { ... }")
        out.append(text[i:m.start()])
        out.append(f" __EXISTS{len(blocks)}__ ")
        blocks.append(text[m.end():j - 1].strip())
        i = j
    out.append(text[i:])
    return "".join(out), blocks


# ---- computed RETURN/WITH expressions (round 7) ----------------------------
# arithmetic over node/rel properties, parameters and literals, plus
# CASE WHEN ... THEN ... [ELSE ...] END — the first shapes a graph user
# types past plain property projections (verdict-r6 item 4)

_EXPR_TOK = re.compile(
    r"\s*(?:"
    r"(?P<kw>CASE|WHEN|THEN|ELSE|END|AND|OR|NOT)\b"
    r"|(?P<op>>=|<=|<>|[-+*/(),><=])"
    r"|(?P<param>\$\w+)"
    r"|(?P<num>\d+\.\d+|\d+)"
    r"|(?P<str>'[^']*')"
    r"|(?P<prop>\w+\.\w+)"
    r"|(?P<name>\w+)"
    r")",
    re.I,
)

# Cypher scalar functions in computed expressions (round 8): name ->
# (arity range, Column builder). substring() is 0-BASED in Cypher
# (Spark's is 1-based); size() is the list form (Cypher's string form
# would need type info the compiler doesn't carry).
_EXPR_FNS: dict = {
    "abs": ((1, 1), lambda a: F.abs(a[0])),
    "ceil": ((1, 1), lambda a: F.ceil(a[0])),
    "floor": ((1, 1), lambda a: F.floor(a[0])),
    "sqrt": ((1, 1), lambda a: F.sqrt(a[0])),
    "sign": ((1, 1), lambda a: F.signum(a[0]).cast("int")),
    "round": ((1, 2), lambda a: F.round(a[0], 0) if len(a) == 1 else F.round(*a)),
    "tolower": ((1, 1), lambda a: F.lower(a[0])),
    "toupper": ((1, 1), lambda a: F.upper(a[0])),
    "trim": ((1, 1), lambda a: F.trim(a[0])),
    "ltrim": ((1, 1), lambda a: F.ltrim(a[0])),
    "rtrim": ((1, 1), lambda a: F.rtrim(a[0])),
    "reverse": ((1, 1), lambda a: F.reverse(a[0])),
    "replace": ((3, 3), lambda a: F.replace(a[0], a[1], a[2])),
    "left": ((2, 2), lambda a: F.substr(a[0], F.lit(1), a[1])),
    "substring": (
        (2, 3),
        lambda a: F.substr(a[0], a[1] + F.lit(1), *(a[2:] or [F.lit(1 << 30)])),
    ),
    "tostring": ((1, 1), lambda a: a[0].cast("string")),
    "tointeger": ((1, 1), lambda a: a[0].cast("long")),
    "tofloat": ((1, 1), lambda a: a[0].cast("double")),
    "coalesce": ((1, 99), lambda a: F.coalesce(*a)),
    "size": ((1, 1), lambda a: F.size(a[0])),
    # length(r) is CONTEXT-DEPENDENT (reads a var-length rel's BFS hop
    # count, not a value of its argument) — each expression compiler
    # intercepts the ("fn", "length", [("var", r)]) node itself; the
    # None sentinel makes a missed interception fail loudly
    "length": ((1, 1), None),
}


def _tokenize_expr(text: str) -> list[tuple[str, str]]:
    toks, i = [], 0
    while i < len(text):
        m = _EXPR_TOK.match(text, i)
        if not m or m.end() == i:
            if text[i:].strip():
                raise CypherUnsupported(f"cannot tokenize expression at: {text[i:i+30]!r}")
            break
        i = m.end()
        kind = m.lastgroup
        val = m.group(kind)
        if kind == "kw":
            toks.append(("kw", val.upper()))
        else:
            toks.append((kind, val))
    return toks


def _parse_expr(text: str):
    """Recursive-descent parse of the computed-item grammar ->
    nested-tuple AST: ('num', v) ('str', s) ('param', name)
    ('prop', var, prop) ('neg', e) ('bin', op, l, r)
    ('case', [(cond, val), ...], else_or_None); conditions:
    ('cmp', op, l, r) ('and'|'or', a, b) ('not', c)."""
    toks = _tokenize_expr(text)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else (None, None)

    def take(kind=None, val=None):
        nonlocal pos
        k, v = peek()
        if k is None or (kind and k != kind) or (val and v != val):
            raise CypherUnsupported(
                f"unexpected token {v!r} in expression {text[:60]!r}"
            )
        pos += 1
        return v

    def parse_sum():
        e = parse_term()
        while peek() == ("op", "+") or peek() == ("op", "-"):
            op = take("op")
            e = ("bin", op, e, parse_term())
        return e

    def parse_term():
        e = parse_factor()
        while peek() == ("op", "*") or peek() == ("op", "/"):
            op = take("op")
            e = ("bin", op, e, parse_factor())
        return e

    def parse_factor():
        k, v = peek()
        if k == "op" and v == "-":
            take()
            return ("neg", parse_factor())
        if k == "op" and v == "(":
            take()
            e = parse_sum()
            take("op", ")")
            return e
        if k == "kw" and v == "CASE":
            return parse_case()
        if k == "num":
            take()
            return ("num", float(v) if "." in v else int(v))
        if k == "str":
            take()
            return ("str", v[1:-1])
        if k == "param":
            take()
            return ("param", v[1:])
        if k == "prop":
            take()
            var, prop = v.split(".")
            return ("prop", var, prop)
        if k == "name":
            # bare identifier: a WITH-carried alias (resolved against
            # the segment's frame at compile time), a pattern var, or —
            # when followed by '(' — a scalar function call (round 9;
            # ADVICE-r8: _EXPR_FNS was defined but unreachable)
            take()
            if peek() == ("op", "("):
                fname = v.lower()
                if fname not in _EXPR_FNS:
                    raise CypherUnsupported(
                        f"unknown function {v!r} in expression {text[:60]!r}"
                    )
                take()
                args = []
                if peek() != ("op", ")"):
                    args.append(parse_sum())
                    while peek() == ("op", ","):
                        take()
                        args.append(parse_sum())
                take("op", ")")
                lo, hi = _EXPR_FNS[fname][0]
                if not (lo <= len(args) <= hi):
                    raise CypherUnsupported(
                        f"{v}() expects {lo}..{hi} arguments, got {len(args)}"
                    )
                return ("fn", fname, args)
            return ("var", v)
        raise CypherUnsupported(f"unexpected {v!r} in expression {text[:60]!r}")

    def parse_cond():
        def atom():
            k, v = peek()
            if k == "kw" and v == "NOT":
                take()
                return ("not", atom())
            if k == "op" and v == "(":
                # could be a parenthesized condition or value; try cond
                save = pos
                take()
                try:
                    c = parse_cond()
                    take("op", ")")
                    return c
                except CypherUnsupported:
                    nonlocal_pos_reset(save)
            left = parse_sum()
            k, v = peek()
            if k != "op" or v not in _OPS:
                raise CypherUnsupported(
                    f"expected comparison in CASE condition: {text[:60]!r}"
                )
            take()
            return ("cmp", v, left, parse_sum())

        def nonlocal_pos_reset(save):
            nonlocal pos
            pos = save

        c = atom()
        while peek() in (("kw", "AND"), ("kw", "OR")):
            op = take("kw").lower()
            c = (op, c, atom())
        return c

    def parse_case():
        take("kw", "CASE")
        whens = []
        while peek() == ("kw", "WHEN"):
            take()
            c = parse_cond()
            take("kw", "THEN")
            whens.append((c, parse_sum()))
        if not whens:
            raise CypherUnsupported("CASE needs at least one WHEN")
        els = None
        if peek() == ("kw", "ELSE"):
            take()
            els = parse_sum()
        take("kw", "END")
        return ("case", whens, els)

    e = parse_sum()
    if pos != len(toks):
        raise CypherUnsupported(f"trailing tokens in expression {text[:60]!r}")
    if e[0] in ("num", "str", "param", "prop", "var"):
        # plain leaves are handled by the dedicated item kinds; routing
        # them here would weaken their error messages
        raise CypherUnsupported(f"not a computed expression: {text[:60]!r}")
    return e


def _parse_cond_text(text: str):
    """Parse a standalone WHERE condition through the computed-
    expression grammar -> condition AST, by parsing
    ``CASE WHEN <cond> THEN 1 ELSE 0 END`` and unwrapping — zero
    grammar duplication."""
    e = _parse_expr(f"CASE WHEN {text} THEN 1 ELSE 0 END")
    return e[1][0][0]


def _expr_walk(e, props: list, pars: list):
    """Collect ('prop', var, prop) leaves and parameter names."""
    kind = e[0]
    if kind == "var":
        pass
    elif kind == "prop":
        props.append((e[1], e[2]))
    elif kind == "param":
        pars.append(e[1])
    elif kind == "neg" or kind == "not":
        _expr_walk(e[1], props, pars)
    elif kind in ("bin", "cmp"):
        _expr_walk(e[2], props, pars)
        _expr_walk(e[3], props, pars)
    elif kind in ("and", "or"):
        _expr_walk(e[1], props, pars)
        _expr_walk(e[2], props, pars)
    elif kind == "case":
        for c, v in e[1]:
            _expr_walk(c, props, pars)
            _expr_walk(v, props, pars)
        if e[2] is not None:
            _expr_walk(e[2], props, pars)
    elif kind == "fn":
        for a in e[2]:
            _expr_walk(a, props, pars)


def _split_top_level_and(text: str) -> list[str]:
    """Split a WHERE clause on AND at PAREN DEPTH ZERO only (round 12
    — the Cypher grammar property gate caught the paren-blind
    ``re.split`` cutting ``(a >= 1 AND b <= 2)`` in half). A
    parenthesized boolean group survives intact and classifies as one
    expr_cond atom through the expression grammar, which handles full
    AND/OR/NOT trees. Quoted string literals are skipped wholesale
    (ADVICE r12: a '(' / ')' or an uppercase ' AND ' inside quotes
    must neither move the depth counter nor split the conjunct),
    mirroring the quote handling the expression grammar has."""
    parts: list[str] = []
    depth = 0
    start = 0
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if ch in ("'", '"'):
            # skip to the closing quote, exactly mirroring the
            # grammar's escape-free token '[^']*' (an unterminated
            # string consumes the tail and the grammar raises later)
            j = text.find(ch, i + 1)
            i = n if j < 0 else j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and text[i:i + 3].upper() == "AND":
            before_ws = i > 0 and text[i - 1].isspace()
            after_ws = i + 3 < n and text[i + 3].isspace()
            if before_ws and after_ws:
                parts.append(text[start:i])
                i += 3
                start = i
                continue
        i += 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def _extract_all_guards(text: str):
    """Pull paren-balanced ``ALL(...)`` blocks out before clause/AND
    splitting (they contain WHERE and AND keywords)."""
    blocks: list[str] = []
    out = []
    i = 0
    for m in re.finditer(r"\bALL\s*\(", text, re.I):
        if m.start() < i:
            continue
        depth = 0
        j = m.end() - 1
        while j < len(text):
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise CypherUnsupported("unbalanced parentheses in ALL(...)")
        out.append(text[i:m.start()])
        out.append(f" __ALL{len(blocks)}__ ")
        blocks.append(text[m.start():j + 1])
        i = j + 1
    out.append(text[i:])
    return "".join(out), blocks


# ---- parse ---------------------------------------------------------------

def _split_top_level(text: str) -> list[str]:
    """Split on commas that sit at bracket depth 0 and outside
    single-quoted strings — RETURN/WITH items may contain function
    calls (``round(x, 2)``), list literals and string literals."""
    parts: list[str] = []
    depth, start, in_str = 0, 0, False
    for i, ch in enumerate(text):
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return parts


def split_union(query: str) -> tuple[list[str], bool]:
    """Split a query on top-level ``UNION [ALL]`` (outside quotes and
    EXISTS braces) -> (parts, is_union_all). Neo4j's rules apply: all
    separators must agree (mixing UNION and UNION ALL raises), and
    every part must RETURN the same column names (checked at compile).
    Per-part ORDER BY/LIMIT order that part only; the union output
    order is unspecified (B5)."""
    flat = " ".join(query.split())
    parts: list[str] = []
    kinds: list[bool] = []
    last = 0
    for m in re.finditer(r"\bUNION(\s+ALL)?\b", flat, re.I):
        prefix = flat[: m.start()]
        if prefix.count("'") % 2 or prefix.count("{") != prefix.count("}"):
            continue  # inside a string literal or an EXISTS block
        parts.append(flat[last:m.start()].strip())
        kinds.append(bool(m.group(1)))
        last = m.end()
    parts.append(flat[last:].strip())
    if kinds and len(set(kinds)) > 1:
        raise CypherUnsupported("mixing UNION and UNION ALL is unsupported")
    return parts, bool(kinds and kinds[0])


def parse(query: str) -> dict:
    """Flattened query text -> AST dict, or raise CypherUnsupported."""
    flat = " ".join(query.split())
    flat, exists_blocks = _extract_exists_guards(flat)
    flat, all_blocks = _extract_all_guards(flat)

    marks = list(_CLAUSE_RE.finditer(flat))
    if (
        not marks
        or marks[0].start() != 0
        or marks[0].group(1).upper() not in ("MATCH", "UNWIND")
    ):
        raise CypherUnsupported("query must start with MATCH or UNWIND")
    clauses = []
    for i, m in enumerate(marks):
        kw = re.sub(r"\s+", " ", m.group(1).upper())
        end = marks[i + 1].start() if i + 1 < len(marks) else len(flat)
        clauses.append((kw, flat[m.end():end].strip()))

    # WITH-pipeline segmentation (round 8): the query is a chain of
    # segments, each `[UNWIND*] MATCH* (WHERE*)` closed by a WITH or the
    # final RETURN projection (with its own ORDER BY/SKIP/LIMIT and a
    # post-projection WHERE). compile_query threads each segment's
    # output frame into the next as the carried variable scope.
    ast: dict = {"segments": []}

    def parse_pattern(text: str) -> list:
        """node (rel node)* -> [node0, (rel1, node1), ...]."""
        items: list = []
        m = _NODE_PAT.match(text)
        if not m:
            raise CypherUnsupported(f"cannot parse node pattern at: {text[:60]!r}")
        items.append({
            "var": m.group(1), "anchor_param": m.group(3),
            "anchor_env": m.group(4),
        })
        rest = text[m.end():].strip()
        while rest:
            rm = _REL_PAT.match(rest)
            if not rm:
                raise CypherUnsupported(f"cannot parse relationship at: {rest[:60]!r}")
            left, rvar, rtype, star, lo, hi, right = rm.groups()
            if left and right:
                raise CypherUnsupported("relationship cannot point both ways")
            if rtype and rtype.upper() != "SIMILAR":
                raise CypherUnsupported(f"unknown relationship type {rtype!r}")
            rel = {
                "var": rvar or None,
                "dir": "<" if left else (">" if right else "-"),
                "varlen": (int(lo), int(hi)) if star else None,
            }
            rest = rest[rm.end():].strip()
            nm = _NODE_PAT.match(rest)
            if not nm:
                raise CypherUnsupported(f"cannot parse node pattern at: {rest[:60]!r}")
            items.append((rel, {
                "var": nm.group(1), "anchor_param": nm.group(3),
                "anchor_env": nm.group(4),
            }))
            rest = rest[nm.end():].strip()
        return items

    def parse_conds(text: str) -> list:
        conds = []
        for raw in _split_top_level_and(text):
            raw = raw.strip()
            em = re.fullmatch(r"(NOT\s+)?__EXISTS(\d+)__", raw, re.I)
            if em:
                conds.append(
                    ("exists", bool(em.group(1)), exists_blocks[int(em.group(2))])
                )
                continue
            pm = re.match(r"^(NOT\s+)?\(", raw, re.I)
            if pm:
                # pattern predicate (round 7): WHERE [NOT] (a)-[:T]->(b)
                # — Neo4j's existential sugar; parsed as a linear
                # pattern, compiled next to the EXISTS guards. A
                # parenthesized computed/boolean condition also starts
                # with '(' — fall through to the expression grammar
                # when it isn't a pattern.
                try:
                    conds.append(
                        (
                            "pattern",
                            bool(pm.group(1)),
                            parse_pattern(raw[pm.end() - 1:]),
                        )
                    )
                    continue
                except CypherUnsupported:
                    pass
            am = re.fullmatch(r"__ALL(\d+)__", raw)
            if am:
                blk = all_blocks[int(am.group(1))]
                bm = _ALL_RE.match(" ".join(blk.split()))
                if not bm:
                    raise CypherUnsupported(f"unsupported ALL(...) guard: {blk[:80]!r}")
                conds.append(("all", bm.group(2), bm.group(3), bm.group(4)))
                continue
            m = _CMP_RE.match(raw)
            if m:
                conds.append(("cmp", m.group(1), m.group(2), m.group(3), m.group(4)))
                continue
            m = _IN_RE.match(raw)
            if m:
                conds.append(("in", m.group(1), m.group(2), m.group(3)))
                continue
            m = _BARE_CMP_RE.match(raw)
            if m:
                conds.append(("bare", m.group(1), m.group(2), m.group(3)))
                continue
            # computed condition (round 7): arithmetic/CASE comparisons
            # like `r.similitud * 2 > 50` through the same expression
            # grammar RETURN uses; applied as a post-chain filter
            try:
                conds.append(("expr_cond", _parse_cond_text(raw)))
                continue
            except CypherUnsupported:
                pass
            raise CypherUnsupported(f"unsupported WHERE atom: {raw[:80]!r}")
        return conds

    def parse_items(text: str) -> list:
        items = []
        for raw in _split_top_level(text):
            raw = raw.strip()
            m = _ITEM_PROP_RE.match(raw)
            if m:
                items.append(("prop", m.group(1), m.group(2), m.group(3)))
                continue
            m = _ITEM_COUNT_RE.match(raw)
            if m:
                # count(v) / count(v.prop) / count(DISTINCT v[.prop])
                items.append((
                    "countd" if m.group(1) else "count",
                    m.group(2), m.group(3), m.group(4),
                ))
                continue
            m = _ITEM_COUNT_STAR_RE.match(raw)
            if m:
                items.append(("countstar", None, None, m.group(1)))
                continue
            m = _ITEM_COLLECT_RE.match(raw)
            if m:
                items.append((
                    "collectd" if m.group(1) else "collect",
                    m.group(2), m.group(3), m.group(4),
                ))
                continue
            m = _ITEM_AGG_RE.match(raw)
            if m:
                items.append(
                    (f"agg:{m.group(1).lower()}", m.group(2), m.group(3), m.group(4))
                )
                continue
            m = _ITEM_PCTC_RE.match(raw)
            if m:
                items.append(
                    (f"agg:pctc:{m.group(3)}", m.group(1), m.group(2), m.group(4))
                )
                continue
            m = _ITEM_LEN_RE.match(raw)
            if m:
                items.append(("length", m.group(1), None, m.group(2)))
                continue
            if re.fullmatch(r"\w+", raw):
                items.append(("bare", raw, None, raw))
                continue
            # computed expression (round 7): arithmetic / CASE; alias
            # defaults to the expression text, Neo4j's column-name rule
            am2 = re.match(r"^(.*\S)\s+AS\s+(\w+)$", raw, re.I)
            expr_text, alias = (am2.group(1), am2.group(2)) if am2 else (raw, raw)
            if re.fullmatch(r"\w+", expr_text):
                # re-aliased bare variable / carried alias: `deg AS d`
                items.append(("bare", expr_text, None, alias))
                continue
            items.append(("expr", _parse_expr(expr_text), None, alias))
        return items

    def _new_seg() -> dict:
        return {"unwind": [], "matches": [], "project": None,
                "project_star": False, "post_where": [], "order": [],
                "skip": None, "limit": None, "distinct": False,
                "is_return": False}

    def _split_patterns(body: str) -> list[str]:
        # comma-separated patterns (round 7): MATCH (a)-->(b), (a)-->(c)
        # — Neo4j's branching sugar; each component compiles like its
        # own MATCH clause, joined on shared variables by the chain
        # builder. Divergence documented: Cypher's relationship
        # uniqueness spans ALL patterns of one MATCH, ours is
        # per-component (same as the multi-MATCH continuation rule).
        depth = 0
        start = 0
        parts: list[str] = []
        for i, ch in enumerate(body):
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(body[start:i])
                start = i + 1
        parts.append(body[start:])
        return parts

    segments: list[dict] = []
    seg = _new_seg()
    stage = "match"  # -> "post" once the segment's WITH/RETURN is seen

    def _close_segment():
        nonlocal seg, stage
        if seg["is_return"]:
            raise CypherUnsupported("no clause may follow RETURN")
        if seg["project"] is None:
            raise CypherUnsupported("segment is missing its WITH projection")
        segments.append(seg)
        seg = _new_seg()
        stage = "match"

    for kw, body in clauses:
        if kw in ("MATCH", "OPTIONAL MATCH"):
            if stage == "post":
                _close_segment()
            for part in _split_patterns(body):
                seg["matches"].append({
                    "optional": kw.startswith("OPTIONAL"),
                    "pattern": parse_pattern(part.strip()),
                    "where": [],
                })
        elif kw == "UNWIND":
            if stage == "post":
                _close_segment()
            if seg["matches"]:
                raise CypherUnsupported(
                    "UNWIND must precede the MATCH clauses of its segment"
                )
            um = re.fullmatch(
                r"(\$\w+|\w+|\[[^\]]*\])\s+AS\s+(\w+)", body.strip(), re.I
            )
            if not um:
                raise CypherUnsupported(f"unsupported UNWIND: {body[:60]!r}")
            src_txt, alias = um.group(1), um.group(2)
            if src_txt.startswith("$"):
                src = ("param", src_txt[1:])
            elif src_txt.startswith("["):
                import ast as _pyast

                try:
                    vals = list(_pyast.literal_eval(src_txt))
                except (ValueError, SyntaxError) as exc:
                    raise CypherUnsupported(
                        f"unsupported UNWIND list literal: {src_txt[:60]!r}"
                    ) from exc
                src = ("list", vals)
            else:
                src = ("alias", src_txt)
            seg["unwind"].append((src, alias))
        elif kw == "WHERE":
            conds = parse_conds(body)
            if stage == "post":
                # WHERE attached to a WITH: filters the projection
                # (applied after the WITH's ORDER BY/SKIP/LIMIT, the
                # clause-order contract)
                seg["post_where"].extend(conds)
            elif seg["matches"]:
                seg["matches"][-1]["where"].extend(conds)
            else:
                raise CypherUnsupported("WHERE before any MATCH")
        elif kw in ("WITH", "RETURN"):
            if stage == "post":
                _close_segment()
            dm = re.match(r"DISTINCT\s+", body, re.I)
            if dm:
                seg["distinct"] = True
                body = body[dm.end():]
            if body.strip() == "*":
                # WITH * / RETURN * (round 7): every bound variable, in
                # pattern binding order — nodes project their id,
                # relationships their similitud, each under its own
                # variable name. Carried aliases are prepended at
                # compile time (project_star).
                star_items: list = []
                seen_vars: set[str] = set()
                for mc in seg["matches"]:
                    pat = mc["pattern"]
                    chain = [pat[0]] + [n for _r, n in pat[1:]]
                    rels = [r for r, _n in pat[1:]]
                    for node in chain:
                        if node["var"] not in seen_vars:
                            seen_vars.add(node["var"])
                            star_items.append(
                                ("prop", node["var"], "id", node["var"])
                            )
                    for rel in rels:
                        if rel["var"] and rel["var"] not in seen_vars:
                            seen_vars.add(rel["var"])
                            star_items.append(
                                ("prop", rel["var"], "similitud", rel["var"])
                            )
                seg["project"] = star_items
                seg["project_star"] = True
            else:
                seg["project"] = parse_items(body)
            seg["is_return"] = kw == "RETURN"
            stage = "post"
        elif kw == "ORDER BY":
            if stage != "post":
                raise CypherUnsupported("ORDER BY before WITH/RETURN")
            for raw in _split_top_level(body):
                raw = raw.strip()
                m = _ORDER_RE.match(raw)
                if m:
                    seg["order"].append(
                        (m.group(1), (m.group(2) or "ASC").upper())
                    )
                    continue
                # computed ORDER BY (round 9): arithmetic / scalar
                # functions / CASE over projected aliases, through the
                # same expression grammar RETURN uses
                md = re.match(r"^(.*\S)\s+(ASC|DESC)$", raw, re.I)
                txt, direction = (
                    (md.group(1), md.group(2).upper()) if md else (raw, "ASC")
                )
                seg["order"].append((("expr", _parse_expr(txt)), direction))
        elif kw in ("LIMIT", "SKIP"):
            if stage != "post":
                raise CypherUnsupported(f"{kw} before WITH/RETURN")
            body = body.strip()
            if re.fullmatch(r"\$\w+|\d+", body):
                seg["limit" if kw == "LIMIT" else "skip"] = body
            else:
                raise CypherUnsupported(f"unsupported {kw}: {body!r}")

    if seg["project"] is None:
        raise CypherUnsupported("query has no RETURN clause")
    segments.append(seg)
    if not segments[-1]["is_return"]:
        raise CypherUnsupported("query must end with RETURN")
    first = segments[0]
    if not first["matches"] and not first["unwind"]:
        raise CypherUnsupported("query has no MATCH clause")
    if first["matches"] and first["matches"][0]["optional"] and not first["unwind"]:
        raise CypherUnsupported("the first MATCH cannot be OPTIONAL")
    ast["segments"] = segments
    return ast


# ---- compile --------------------------------------------------------------

def _collect_params(ast) -> list[str]:
    names = []

    def val_params(v):
        if isinstance(v, str) and v.startswith("$"):
            names.append(v[1:])

    for seg in ast["segments"]:
        for src, _alias in seg["unwind"]:
            if src[0] == "param":
                names.append(src[1])
        for mc in seg["matches"]:
            pat = mc["pattern"]
            for item in pat:
                node = item if isinstance(item, dict) else item[1]
                if node.get("anchor_param"):
                    names.append(node["anchor_param"])
            for c in mc["where"]:
                if c[0] == "cmp":
                    val_params(c[4])
                elif c[0] == "in":
                    val_params(c[3])
                elif c[0] == "all":
                    val_params(c[2]); val_params(c[3])
                elif c[0] == "bare":
                    val_params(c[3])
                elif c[0] == "exists":
                    names.extend(
                        m.group(1) for m in re.finditer(r"\$(\w+)", c[2])
                    )
                elif c[0] == "pattern":
                    for item in c[2]:
                        node = item if isinstance(item, dict) else item[1]
                        if node.get("anchor_param"):
                            names.append(node["anchor_param"])
                elif c[0] == "expr_cond":
                    props: list = []
                    pars: list = []
                    _expr_walk(c[1], props, pars)
                    names.extend(pars)
        for c in seg["post_where"]:
            if c[0] == "bare":
                val_params(c[3])
        for k, v, _p, _a in seg["project"] or []:
            if k == "expr":
                props2: list = []
                pars2: list = []
                _expr_walk(v, props2, pars2)
                names.extend(pars2)
        if seg["limit"]:
            val_params(seg["limit"])
        if seg["skip"]:
            val_params(seg["skip"])
    return names


def compile_query(
    ast: dict,
    nodes: DataFrame | None,
    edges: DataFrame | None,
    params: dict,
) -> DataFrame:
    """Compile a segmented Cypher AST: each WITH closes a segment whose
    projected frame becomes the next segment's carried variable scope
    (threaded through `_compile_segment`)."""
    missing = sorted({p for p in _collect_params(ast) if p not in params})
    if missing:
        raise ValueError(f"unbound Cypher parameters: {missing}")
    env: DataFrame | None = None
    env_kinds: dict[str, str] = {}
    env_small = False
    for seg in ast["segments"]:
        env, env_kinds, env_small = _compile_segment(
            seg, nodes, edges, params, env, env_kinds, env_small
        )
    return env


def hop_table(ast: dict, params: dict, edges: pa.Table) -> pa.Table | None:
    """``compile_query(ast, nodes, edges_frame, params)``'s rows, read
    from ``edges``, the (src, dst, similitud) table of every edge that
    leaves the anchor, when ``ast`` is one outgoing hop from
    ``(a {id: $p})`` whose WHERE atoms are ``r.similitud <op> <value>``
    (a bound param or a literal that ``float`` reads) and whose RETURN
    items are ``a.id``, ``b.id`` and ``r.similitud`` under distinct
    aliases, with no DISTINCT, ORDER BY, SKIP, LIMIT or post-RETURN
    WHERE. Such a query reads no node property, so its rows are the
    anchor's edges that satisfy every atom, as Spark compares doubles,
    and its columns keep the edges' types, each nullable. Any other
    shape, and an unbound or non-numeric value, returns None: the
    compiler answers it (or raises)."""
    if len(ast["segments"]) != 1:
        return None
    seg = ast["segments"][0]
    if (
        seg["unwind"] or len(seg["matches"]) != 1 or seg["post_where"] or seg["order"]
        or seg["skip"] is not None or seg["limit"] is not None or seg["distinct"]
        or seg["project_star"]
    ):
        return None
    match = seg["matches"][0]
    if match["optional"] or len(match["pattern"]) != 2:
        return None
    a, (rel, b) = match["pattern"]
    r = rel["var"]
    if (
        a["anchor_param"] is None or b["anchor_param"] or b["anchor_env"]
        or rel["dir"] != ">" or rel["varlen"] is not None
        or len({a["var"], b["var"], r}) != 3
    ):
        return None
    conds = []
    for c in match["where"]:
        if c[0] != "cmp" or c[1:3] != (r, "similitud"):
            return None
        op, val = c[3], c[4]
        if val.startswith("$"):
            if val[1:] not in params:
                return None
            val = params[val[1:]]
        elif val.startswith("'"):
            val = val[1:-1]
        try:
            conds.append((op, float(val)))
        except (TypeError, ValueError, OverflowError):
            return None
    column = {(a["var"], "id"): "src", (b["var"], "id"): "dst", (r, "similitud"): "similitud"}
    items = seg["project"]
    if any(k != "prop" or (v, p) not in column for k, v, p, _ in items):
        return None
    if len({alias for *_, alias in items}) != len(items):
        return None
    hits = edges.filter(pa.array(similitud_mask(edges["similitud"], conds)))
    return pa.table({alias: hits[column[v, p]] for _, v, p, alias in items})


def _pattern_items_text(items) -> str:
    """Pattern-predicate items back to Cypher text, so a pattern atom
    can reuse the EXISTS subchain machinery (round 7 device, hoisted to
    module scope in round 11 for the var-length OPTIONAL tail)."""
    def node_txt(n):
        anchor = f" {{id: ${n['anchor_param']}}}" if n.get("anchor_param") else ""
        return f"({n['var']}{anchor})"

    parts = [node_txt(items[0])]
    for rel, node in items[1:]:
        rv = rel["var"] or ""
        star = (
            f"*{rel['varlen'][0]}..{rel['varlen'][1]}" if rel["varlen"] else ""
        )
        body = f"[{rv}:SIMILAR{star}]"
        arrow = {
            "<": f"<-{body}-", ">": f"-{body}->", "-": f"-{body}-",
        }[rel["dir"]]
        parts.append(arrow)
        parts.append(node_txt(node))
    return "".join(parts)


def _compile_exists_subchain(
    inner: str,
    allowed_anchors,
    nodes: DataFrame | None,
    edges: DataFrame | None,
    params: dict,
    clash_vars=frozenset(),
):
    """Compile one EXISTS {...} inner pattern to (anchor_var, frame):
    the frame is the DISTINCT set of anchor node ids satisfying the
    pattern, projected as ``__ex_id`` — the semi/anti-join side of an
    existential guard. Shared by the main-chain exists compiler and
    the var-length OPTIONAL tail (round 11)."""
    inner_flat = " ".join(inner.split())
    if not re.match(r"^MATCH\b", inner_flat, re.I):
        inner_flat = "MATCH " + inner_flat
    nm = _NODE_PAT.match(inner_flat[5:].lstrip())
    if not nm:
        raise CypherUnsupported(
            f"cannot parse EXISTS pattern at: {inner_flat[:60]!r}"
        )
    anchor_var = nm.group(1)
    if anchor_var not in allowed_anchors:
        raise CypherUnsupported(
            f"EXISTS pattern must start from a bound variable; "
            f"{anchor_var!r} is not bound"
        )
    inner_ast = parse(f"{inner_flat} RETURN {anchor_var}.id AS __ex_id")
    inner_vars = set()
    for imc in inner_ast["segments"][0]["matches"]:
        pat = imc["pattern"]
        inner_vars.add(pat[0]["var"])
        for rel, node in pat[1:]:
            inner_vars.add(node["var"])
            if rel["var"]:
                inner_vars.add(rel["var"])
    clash = (inner_vars - {anchor_var}) & set(clash_vars)
    if clash:
        raise CypherUnsupported(
            f"EXISTS pattern rebinds outer variables {sorted(clash)}; "
            "only the first node may reference the outer scope"
        )
    return anchor_var, compile_query(inner_ast, nodes, edges, params).distinct()


def _filter_hit_expr_conds(
    hit: DataFrame,
    conds: list,
    nvar: str,
    rvar: str | None,
    from_var: str,
    len_col: str,
    nodes: DataFrame | None,
    params: dict,
) -> DataFrame:
    """Compile computed WHERE conditions against a var-length OPTIONAL
    tail's BFS hit frame (round 12, verdict-r11 item 4 — the last
    named raise in the OPTIONAL family). Scope: the endpoint variable
    (id + node properties, lazily left-joined), the bound start's id
    (``__bfs_seed``), ``length(r)``, literals, parameters, arithmetic,
    scalar functions, and boolean combinators. Conditions over other
    bound variables live in the bound frame, not the tail — carried-
    alias forms ride the join condition (``extra_cond``); anything
    else raises with the reason."""

    def attach(prop: str) -> str:
        nonlocal hit
        pcol = f"__tp_{prop}"
        if pcol in hit.columns:
            return pcol
        if nodes is None:
            raise ValueError("computed condition needs the nodes frame")
        if prop not in nodes.columns:
            raise ValueError(
                f"unknown node property {prop!r}; nodes frame has {nodes.columns}"
            )
        nf = nodes.select(F.col("id").alias("__tpj"), F.col(prop).alias(pcol))
        hit = hit.join(nf, hit[f"__v_{nvar}"] == nf["__tpj"], "left").drop("__tpj")
        return pcol

    def ex(e):
        kind = e[0]
        if kind in ("num", "str"):
            return F.lit(e[1])
        if kind == "param":
            return F.lit(params[e[1]])
        if kind == "var":
            if e[1] == nvar:
                return F.col(f"__v_{nvar}")
            if e[1] == from_var:
                return F.col("__bfs_seed")
            raise CypherUnsupported(
                f"variable {e[1]!r} is not in the var-length OPTIONAL "
                f"tail's scope ({nvar!r}, {from_var!r}, length())"
            )
        if kind == "prop":
            v, p = e[1], e[2]
            if v == nvar:
                return F.col(f"__v_{nvar}") if p == "id" else F.col(attach(p))
            if v == from_var and p == "id":
                return F.col("__bfs_seed")
            if rvar and v == rvar:
                raise CypherUnsupported(
                    f"{v}.{p} reads a PER-EDGE property of the var-length "
                    "relationship — use an ALL(x IN r WHERE ...) guard"
                )
            raise CypherUnsupported(
                "computed conditions in a var-length OPTIONAL tail may "
                f"reference the endpoint {nvar!r} (id/properties), "
                f"{from_var!r}.id, and length(); got {v}.{p} (properties "
                "of other bound variables live in the bound frame — use "
                "a WITH-carried alias)"
            )
        if kind == "neg":
            return -ex(e[1])
        if kind == "bin":
            op, l, r = e[1], ex(e[2]), ex(e[3])
            if op == "+":
                return l + r
            if op == "-":
                return l - r
            if op == "*":
                return l * r
            return l / r
        if kind == "fn":
            if e[1] == "length":
                a = e[2][0]
                if a[0] != "var" or not rvar or a[1] != rvar:
                    raise CypherUnsupported(
                        "length() must reference the clause's var-length "
                        "relationship variable"
                    )
                return F.col(len_col)
            return _EXPR_FNS[e[1]][1]([ex(a) for a in e[2]])
        if kind == "case":
            out = None
            for c0, v0 in e[1]:
                out = (F.when if out is None else out.when)(cx(c0), ex(v0))
            return out.otherwise(ex(e[2])) if e[2] is not None else out
        raise CypherUnsupported(
            f"unsupported expression node {kind!r} in a var-length "
            "OPTIONAL computed condition"
        )

    def cx(c):
        k = c[0]
        if k == "cmp":
            return _OPS[c[1]](ex(c[2]), ex(c[3]))
        if k == "and":
            return cx(c[1]) & cx(c[2])
        if k == "or":
            return cx(c[1]) | cx(c[2])
        if k == "not":
            return ~cx(c[1])
        raise CypherUnsupported(f"unsupported condition node {k!r}")

    for c in conds:
        # attach property columns FIRST (each attach rebinds `hit`),
        # then filter — so the condition sees the joined frame
        props: list = []
        _expr_walk(c, props, [])
        for v, p in props:
            if v == nvar and p != "id":
                attach(p)
        hit = hit.filter(cx(c))
    return hit


def _optional_varlen_tail(
    mc: dict,
    cur: DataFrame,
    cols: dict,
    edges: DataFrame | None,
    resolve,
    node_vars: set,
    rel_vars: set,
    varlen_lens: set,
    nodes: DataFrame | None = None,
    params: dict | None = None,
    extra_cond=None,
) -> DataFrame:
    """Compile one deferred ``OPTIONAL MATCH (x)-[r*lo..hi]->(c)``
    clause: a multi-source BFS over the guarded edge frame, seeded by
    the DISTINCT bound values of the start variable (as a DataFrame —
    never collected), LEFT-joined back so unmatched rows survive with
    null endpoint/length. Registers ``c`` as a node var and ``r`` as a
    var-length rel (``length(r)`` reads the BFS hop count).

    Round 11 (verdict-r10 item 3): existential atoms — ``EXISTS
    {...}`` and pattern-predicate sugar — anchored on the endpoint or
    the bound start variable apply to the BFS hit frame as semi/anti
    joins BEFORE the single left join, so the OPTIONAL all-or-nothing
    contract holds; ``extra_cond`` (carried-alias comparisons, built
    by the caller against the bound scope) rides the join condition."""
    hops_d = mc["pattern"][1:]
    if len(hops_d) != 1:
        raise CypherUnsupported(
            "OPTIONAL var-length supports a single hop per clause"
        )
    rel, node = hops_d[0]
    from_var = mc["pattern"][0]["var"]
    nvar, rvar = node["var"], rel["var"]
    if from_var not in cols:
        raise CypherUnsupported(
            "OPTIONAL var-length must expand from a bound variable"
        )
    if nvar in cols:
        raise CypherUnsupported(
            "OPTIONAL var-length endpoint must be a new variable"
        )
    lo_hop, hi_hop = rel["varlen"]
    if not 1 <= lo_hop <= hi_hop:
        raise ValueError(f"bad hop range *{lo_hop}..{hi_hop}")
    if edges is None:
        raise ValueError("var-length pattern needs the edges frame")
    fe = edges
    exists_atoms: list[tuple[bool, str]] = []
    expr_atoms: list = []
    for c in mc["where"]:
        if c[0] == "all" and c[1] == rvar:
            lo_w = resolve(c[2], as_float=True)
            hi_w = resolve(c[3], as_float=True)
            fe = fe.filter(F.col("similitud").between(lo_w, hi_w))
        elif c[0] == "exists":
            exists_atoms.append((c[1], c[2]))
        elif c[0] == "pattern":
            exists_atoms.append((c[1], _pattern_items_text(c[2])))
        elif c[0] == "expr_cond":
            expr_atoms.append(c[1])
        elif c[0] == "cmp":
            # plain property guard (var.prop op value): route through
            # the endpoint-frame machinery as a literal comparison —
            # out-of-scope variables raise there with the reason
            vres = resolve(c[4])
            lit = (
                ("num", vres)
                if isinstance(vres, (int, float)) and not isinstance(vres, bool)
                else ("str", vres)
            )
            expr_atoms.append(("cmp", c[3], ("prop", c[1], c[2]), lit))
        else:
            raise CypherUnsupported(
                "OPTIONAL var-length clauses support ALL(...) weight "
                "guards, EXISTS {...}, pattern predicates, and computed "
                "conditions over the endpoint/hop-count frame only"
            )
    if rel["dir"] == "<":
        fe = fe.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "similitud"
        )
    from providenciasbigdata_spark.operators.graph_algos import multi_source_bfs

    reached = multi_source_bfs(
        fe,
        cur.select(F.col(cols[from_var])).distinct(),
        max_hops=hi_hop,
        directed=rel["dir"] != "-",
    )
    len_col = f"__len_{rvar}" if rvar else f"__len_{nvar}"
    hit = reached.filter(F.col("hops").between(lo_hop, hi_hop)).select(
        F.col("seed").alias("__bfs_seed"),
        F.col("id").alias(f"__v_{nvar}"),
        F.col("hops").cast("bigint").alias(len_col),
    )
    for negated, inner in exists_atoms:
        # anchor on the endpoint (filters which BFS targets qualify) or
        # the bound start (whole tail collapses to null for that seed)
        anchor, sub = _compile_exists_subchain(
            inner, {nvar, from_var}, nodes, edges, params or {},
            clash_vars=(node_vars | rel_vars | {nvar, from_var}),
        )
        key = f"__v_{nvar}" if anchor == nvar else "__bfs_seed"
        hit = hit.join(
            sub,
            hit[key] == sub["__ex_id"],
            "left_anti" if negated else "left_semi",
        )
    if expr_atoms:
        # computed conditions (round 12, verdict-r11 item 4): compiled
        # against the BFS HIT frame — endpoint properties (lazy nodes
        # left-join), the endpoint/seed ids, length(r), literals and
        # parameters — and applied as a filter BEFORE the single left
        # join, so the all-or-nothing contract holds (a seed whose
        # every endpoint fails keeps one null row). Conditions over
        # OTHER bound variables' properties stay out of scope: they
        # live in the bound frame, not the tail (carried-alias forms
        # ride extra_cond instead).
        hit = _filter_hit_expr_conds(
            hit, expr_atoms, nvar, rvar, from_var, len_col, nodes,
            params or {},
        )
    jc = cur[cols[from_var]] == hit["__bfs_seed"]
    if extra_cond is not None:
        jc = jc & extra_cond
    cur = cur.join(hit, jc, "left").drop("__bfs_seed")
    cols[nvar] = f"__v_{nvar}"
    node_vars.add(nvar)
    if rvar:
        rel_vars.add(rvar)
        varlen_lens.add(rvar)
    return cur


def _compile_segment(
    seg: dict,
    nodes: DataFrame | None,
    edges: DataFrame | None,
    params: dict,
    env: DataFrame | None,
    env_kinds: dict[str, str],
    env_small: bool,
    raw: bool = False,
):
    """One `[UNWIND*] MATCH* [WHERE*] WITH/RETURN` segment -> projected
    frame. `env` is the previous segment's output (carried aliases as
    columns; `env_kinds` marks which carry node ids / node-id lists).
    Returns (frame, kinds, small) — `small` flags a LIMIT-bounded or
    globally-aggregated frame safe to broadcast into the next segment's
    join. With raw=True, returns the unprojected chain state
    (cur, cols, node_vars, rel_vars) — used to compile a deferred
    OPTIONAL MATCH pattern as its own all-or-nothing chain."""

    def resolve(v, as_float=False):
        if isinstance(v, str) and v.startswith("$"):
            v = params[v[1:]]
        elif isinstance(v, str) and v.startswith("'"):
            v = v[1:-1]
        elif isinstance(v, str):
            v = float(v) if ("." in v or as_float) else int(v)
        return float(v) if as_float else v

    # ---- UNWIND: extend / seed the carried scope ---------------------------
    def _unwind_value_type(vals) -> str:
        """Spark DDL type for an UNWIND literal/param list; defaults to
        string for the empty list (no values to infer from). A mixed
        int/float list widens to double (Cypher's numeric coercion)."""
        if any(isinstance(v, str) for v in vals):
            return "string"
        if any(isinstance(v, bool) for v in vals):
            return "boolean"
        if any(isinstance(v, float) for v in vals):
            return "double"
        if any(isinstance(v, int) for v in vals):
            return "bigint"
        return "string"


    for usrc, ualias in seg["unwind"]:
        if usrc[0] == "param":
            uvals = params[usrc[1]]
            if not isinstance(uvals, (list, tuple)):
                raise ValueError(f"${usrc[1]} must bind a list, got {uvals!r}")
            uvals = list(uvals)
        elif usrc[0] == "list":
            uvals = usrc[1]
        else:
            uvals = None  # UNWIND of a carried list alias
        if uvals is not None and env is None:
            base = nodes if nodes is not None else edges
            if base is None:
                raise ValueError("UNWIND query needs the nodes or edges frame")
            # explicit schema: createDataFrame cannot infer from an
            # empty list (ADVICE-r8) — UNWIND [] must yield Cypher's
            # zero-row result, not a schema-inference error
            dtype = _unwind_value_type(uvals)
            rows = [((float(v) if dtype == "double" else v),) for v in uvals]
            env = local_frame(base.sparkSession, rows, f"{ualias} {dtype}")
            env_kinds = {ualias: "value"}
            env_small = True
        elif uvals is not None:
            if uvals:
                arr = F.array(*[F.lit(v) for v in uvals])
            else:
                # zero-element explode: typed empty array keeps the
                # column resolvable downstream while emitting no rows
                arr = F.array().cast(f"array<{_unwind_value_type(uvals)}>")
            env = env.select("*", F.explode(arr).alias(ualias))
            env_kinds = {**env_kinds, ualias: "value"}
        else:
            src_alias = usrc[1]
            if env is None or src_alias not in env.columns:
                raise CypherUnsupported(
                    f"UNWIND references unknown alias {src_alias!r}"
                )
            if ualias == src_alias:
                raise CypherUnsupported("UNWIND alias must differ from its source")
            ukind = "node" if env_kinds.get(src_alias) == "node_list" else "value"
            env = env.select("*", F.explode(F.col(src_alias)).alias(ualias))
            env_kinds = {**env_kinds, ualias: ukind}

    # ---- split OPTIONAL MATCH clauses that compile as their own chain ------
    # (a) multi-hop / var-length optional patterns: per-hop left joins
    # would keep PARTIAL matches; compiling the whole pattern as a
    # required chain and LEFT-joining it once preserves Cypher's
    # all-or-nothing contract by construction. (b) a segment that
    # OPENS with OPTIONAL MATCH (after WITH): the carried scope is the
    # preserved side.
    matches = list(seg["matches"])
    deferred: list[dict] = []
    if matches and matches[0]["optional"]:
        if env is None:
            raise CypherUnsupported("the first MATCH cannot be OPTIONAL")
        if not all(m["optional"] for m in matches):
            raise CypherUnsupported(
                "required MATCH after a segment-opening OPTIONAL MATCH "
                "is unsupported"
            )
        deferred = matches
        matches = []
    else:
        kept: list[dict] = []
        for mc in matches:
            hops = mc["pattern"][1:]
            # round 10 (verdict-r9 item 5): EXISTS {...}, pattern
            # predicates, and computed conditions inside OPTIONAL
            # MATCH defer — the clause compiles as its own required
            # chain where those atoms apply PATTERN-SIDE (semi/anti-
            # join the optional side), then the single left join
            # null-preserves. Round 11 (verdict-r10 item 3): carried-
            # alias ("bare") comparisons defer too — they become part
            # of the LEFT-join condition (per-row predicate => no
            # match, one null row, never a multiplicity change) — and
            # the var-length tail now applies exists/pattern atoms to
            # the BFS endpoint frame before its left join.
            defer_atoms = any(
                c[0] in ("exists", "pattern", "expr_cond", "bare")
                for c in mc["where"]
            )
            if mc["optional"] and (
                len(hops) > 1
                or any(r["varlen"] for r, _n in hops)
                or defer_atoms
            ):
                deferred.append(mc)
            else:
                kept.append(mc)
        matches = kept

    # classify per-clause WHERE atoms onto vars
    rel_guards: dict[str, list] = {}     # rel var -> [(op, value)]
    all_guards: dict[str, tuple] = {}    # rel var -> (lo, hi)
    id_eq: dict[str, object] = {}        # node var -> literal id
    id_in: dict[str, list] = {}          # node var -> id list
    prop_guards: dict[str, list] = {}    # node var -> [(prop, op, value)]
    exists_guards: list[tuple[bool, str]] = []  # (negated, inner pattern text)
    pattern_guards: list[tuple[bool, list]] = []  # (negated, pattern items)
    expr_conds: list = []  # computed WHERE conditions (post-chain filters)
    env_anchors: list[tuple[str, str]] = []  # (node var, carried alias)
    env_bare: list[tuple[str, str, str]] = []  # (alias, op, value)

    env_node_aliases = (
        {a for a, k in env_kinds.items() if k == "node"}
        if env is not None
        else set()
    )
    node_vars: set[str] = set(env_node_aliases)
    rel_vars: set[str] = set()
    chain_var_set: set[str] = set()  # vars bound by THIS segment's patterns
    for mc in matches:
        pat = mc["pattern"]
        first = pat[0]
        node_vars.add(first["var"])
        chain_var_set.add(first["var"])
        if first.get("anchor_param"):
            id_eq[first["var"]] = params[first["anchor_param"]]
        if first.get("anchor_env"):
            env_anchors.append((first["var"], first["anchor_env"]))
        for rel, node in pat[1:]:
            if rel["var"]:
                rel_vars.add(rel["var"])
                chain_var_set.add(rel["var"])
            node_vars.add(node["var"])
            chain_var_set.add(node["var"])
            if node.get("anchor_param"):
                id_eq[node["var"]] = params[node["anchor_param"]]
            if node.get("anchor_env"):
                env_anchors.append((node["var"], node["anchor_env"]))
        for c in mc["where"]:
            if c[0] == "all":
                _, rvar, lo, hi = c
                if rvar not in rel_vars:
                    raise CypherUnsupported(f"ALL(...) over unknown variable {rvar!r}")
                all_guards[rvar] = (resolve(lo, as_float=True), resolve(hi, as_float=True))
            elif c[0] == "cmp":
                _, var, prop, op, val = c
                if var in rel_vars:
                    if prop != "similitud":
                        raise CypherUnsupported(
                            f"unknown relationship property {prop!r}"
                        )
                    rel_guards.setdefault(var, []).append(
                        (op, resolve(val, as_float=True))
                    )
                elif var in node_vars:
                    if prop == "id":
                        if op != "=":
                            raise CypherUnsupported("node.id supports = and IN only")
                        id_eq[var] = resolve(val)
                    else:
                        prop_guards.setdefault(var, []).append(
                            (prop, op, resolve(val))
                        )
                else:
                    raise CypherUnsupported(f"unknown variable {var!r} in WHERE")
            elif c[0] == "in":
                _, var, prop, val = c
                if prop != "id" or var not in node_vars:
                    raise CypherUnsupported(f"IN supported on node.id only: {var}.{prop}")
                lst = resolve(val)
                if not isinstance(lst, (list, tuple)):
                    raise ValueError(f"${val[1:]} must bind a list, got {lst!r}")
                id_in[var] = list(lst)
            elif c[0] == "exists":
                # deferral invariant (round 11, verdict-r10 item 6):
                # every OPTIONAL clause carrying exists/pattern/
                # expr_cond/bare atoms was diverted to `deferred` by
                # the split loop above, so optional atoms can never
                # reach this inline path — they compile pattern-side
                # in the deferred chain (or the var-length tail)
                if mc["optional"]:
                    raise RuntimeError(
                        "deferral invariant violated: optional exists atom "
                        "reached the inline WHERE path"
                    )
                exists_guards.append((c[1], c[2]))
            elif c[0] == "pattern":
                if mc["optional"]:
                    raise RuntimeError(
                        "deferral invariant violated: optional pattern atom "
                        "reached the inline WHERE path"
                    )
                pattern_guards.append((c[1], c[2]))
            elif c[0] == "expr_cond":
                if mc["optional"]:
                    raise RuntimeError(
                        "deferral invariant violated: optional expr_cond atom "
                        "reached the inline WHERE path"
                    )
                expr_conds.append(c[1])
            elif c[0] == "bare":
                # bare alias comparison: a WITH-carried value
                _, balias, bop, bval = c
                if mc["optional"]:
                    raise RuntimeError(
                        "deferral invariant violated: optional bare atom "
                        "reached the inline WHERE path"
                    )
                if env is not None and balias in env_kinds:
                    env_bare.append((balias, bop, bval))
                else:
                    raise CypherUnsupported(
                        "bare comparisons are only supported after WITH"
                    )
            else:
                raise CypherUnsupported(f"unsupported WHERE atom kind {c[0]!r}")

    def rel_filter(rvar):
        cond = F.lit(True)
        for op, v in rel_guards.get(rvar or "", []):
            cond = cond & _OPS[op](F.col("similitud"), F.lit(v))
        return cond

    def node_anchor_cond(var, col):
        if var in id_eq:
            return col == F.lit(id_eq[var])
        if var in id_in:
            return col.isin(id_in[var])
        return None

    # ---- build the chain frame -------------------------------------------
    cols: dict[str, str] = {}   # var -> internal column in `cur`
    cur: DataFrame | None = None
    hop_n = 0
    anchored = False
    varlen_lens: set[str] = set()

    for ci, mc in enumerate(matches):
        pat = mc["pattern"]
        hops = pat[1:]
        first_var = pat[0]["var"]
        # Cypher relationship uniqueness (relationship isomorphism) is
        # per MATCH clause: two explicit hops of one pattern may not
        # bind the same stored relationship. Multi-hop clauses carry
        # each hop's stored (src, dst) pair and filter later hops
        # against every earlier pair. Var-length hops are the min-hop
        # endpoint device and do not participate (documented
        # divergence — they don't enumerate paths).
        clause_pairs: list[tuple[str, str]] = []
        multi_hop = len(hops) > 1

        if not hops:
            # bare node pattern: a nodes scan (first clause only)
            if cur is not None:
                raise CypherUnsupported("bare node pattern after the first MATCH")
            if nodes is None:
                if len(matches) > 1:
                    raise ValueError(
                        "this query needs both the nodes and edges frames"
                    )
                raise ValueError("node-scan query needs the nodes frame")
            nf = nodes
            ac = node_anchor_cond(first_var, F.col("id"))
            if ac is not None:
                nf = nf.filter(ac)
            for prop, op, v in prop_guards.pop(first_var, []):
                if prop not in nodes.columns:
                    raise ValueError(
                        f"unknown node property {prop!r}; nodes frame has {nodes.columns}"
                    )
                nf = nf.filter(_OPS[op](F.col(prop), F.lit(v)))
            cur = nf.select(F.col("id").alias(f"__v_{first_var}"))
            cols[first_var] = f"__v_{first_var}"
            anchored = anchored or first_var in id_eq
            continue

        if edges is None:
            raise ValueError("expansion query needs the edges frame")
        # multi-hop / var-length OPTIONAL MATCH clauses were deferred
        # above (compiled as their own chain, then ONE left join) — the
        # per-hop path below only ever sees single plain-hop optionals

        for hj, (rel, node) in enumerate(hops):
            hop_n += 1
            rvar, nvar = rel["var"], node["var"]
            from_var = pat[0]["var"] if hj == 0 else hops[hj - 1][1]["var"]

            if rel["varlen"] is not None:
                lo_hop, hi_hop = rel["varlen"]
                if not 1 <= lo_hop <= hi_hop:
                    raise ValueError(f"bad hop range *{lo_hop}..{hi_hop}")
                if mc["optional"]:
                    raise CypherUnsupported(
                        "var-length relationships in OPTIONAL MATCH are unsupported"
                    )
                fe = edges
                if rvar in all_guards:
                    lo_w, hi_w = all_guards.pop(rvar)
                    fe = fe.filter(F.col("similitud").between(lo_w, hi_w))
                fe = fe.filter(rel_filter(rvar))
                if rel["dir"] == "<":
                    fe = fe.select(
                        F.col("dst").alias("src"), F.col("src").alias("dst"),
                        "similitud",
                    )
                directed = rel["dir"] != "-"

                if cur is None or from_var not in cols:
                    # chain-opening var-length hop: single-seed BFS
                    if cur is not None:
                        raise CypherUnsupported(
                            f"pattern variable {from_var!r} is not bound"
                        )
                    if from_var not in id_eq:
                        raise CypherUnsupported(
                            "var-length expansion must be anchored"
                        )
                    from providenciasbigdata_spark.operators.graph_algos import (
                        bfs_distances,
                    )

                    anchor = id_eq[from_var]
                    reached = bfs_distances(
                        fe, anchor, directed=directed, max_hops=hi_hop
                    )
                    cur = reached.filter(
                        F.col("hops").between(lo_hop, hi_hop)
                    ).select(
                        F.lit(anchor).alias(f"__v_{from_var}"),
                        F.col("id").alias(f"__v_{nvar}"),
                        F.col("hops").cast("bigint").alias(f"__len_{rvar}"),
                    )
                    cols[from_var] = f"__v_{from_var}"
                    anchored = True
                else:
                    # MID-CHAIN var-length hop (round 6; round 9 lifts
                    # the anchored-chain requirement): batch-BFS from
                    # every value the bound variable takes, seeds riding
                    # as a DataFrame — the frontier never materializes
                    # on the driver, so an UNANCHORED (corpus-sized)
                    # bound scope is fine: the BFS is one frontier loop
                    # whose per-level work is |frontier|-bounded joins
                    from providenciasbigdata_spark.operators.graph_algos import (
                        multi_source_bfs,
                    )

                    reached = multi_source_bfs(
                        fe,
                        cur.select(F.col(cols[from_var])).distinct(),
                        max_hops=hi_hop,
                        directed=directed,
                    )
                    hit = reached.filter(
                        F.col("hops").between(lo_hop, hi_hop)
                    ).select(
                        F.col("seed").alias("__bfs_seed"),
                        F.col("id").alias(f"__v_{nvar}"),
                        F.col("hops").cast("bigint").alias(f"__len_{rvar}"),
                    )
                    cur = cur.join(
                        hit, cur[cols[from_var]] == hit["__bfs_seed"]
                    ).drop("__bfs_seed")
                cols[nvar] = f"__v_{nvar}"
                if rvar:
                    varlen_lens.add(rvar)
                continue

            wcol = f"__w_{rvar or hop_n}"
            # stored endpoints of the matched relationship, orientation-
            # independent — the uniqueness identity for multi-hop clauses
            es_k, ed_k = f"__es_{hop_n}", f"__ed_{hop_n}"
            pair_sel = (
                [F.col("src").alias(es_k), F.col("dst").alias(ed_k)]
                if multi_hop
                else []
            )

            # orient the hop edge frame so it always reads src->dst
            if rel["dir"] == "<":
                e = edges.select(
                    F.col("dst").alias("__hs"), F.col("src").alias("__hd"),
                    F.col("similitud").alias(wcol), *pair_sel,
                )
            elif rel["dir"] == ">":
                e = edges.select(
                    F.col("src").alias("__hs"), F.col("dst").alias("__hd"),
                    F.col("similitud").alias(wcol), *pair_sel,
                )
            else:
                e = None  # undirected: handled per-case below

            def guarded(df, w=wcol):
                cond = F.lit(True)
                for op, v in rel_guards.get(rvar or "", []):
                    cond = cond & _OPS[op](F.col(w), F.lit(v))
                return df.filter(cond)

            if cur is None or from_var not in cols:
                # first hop of the chain (from_var unbound yet)
                if cur is not None:
                    raise CypherUnsupported(
                        f"pattern variable {from_var!r} is not bound"
                    )
                ac_val = id_eq.get(from_var)
                if rel["dir"] == "-":
                    if ac_val is not None:
                        # anchored undirected: ONE scan, orient outward
                        touching = edges.filter(
                            (F.col("src") == F.lit(ac_val))
                            | (F.col("dst") == F.lit(ac_val))
                        )
                        other = F.when(
                            F.col("src") == F.lit(ac_val), F.col("dst")
                        ).otherwise(F.col("src"))
                        e = touching.select(
                            F.lit(ac_val).alias("__hs"), other.alias("__hd"),
                            F.col("similitud").alias(wcol), *pair_sel,
                        )
                    else:
                        fw = edges.select(
                            F.col("src").alias("__hs"), F.col("dst").alias("__hd"),
                            F.col("similitud").alias(wcol), *pair_sel,
                        )
                        bw = edges.select(
                            F.col("dst").alias("__hs"), F.col("src").alias("__hd"),
                            F.col("similitud").alias(wcol), *pair_sel,
                        )
                        e = fw.unionByName(bw)
                else:
                    ac = node_anchor_cond(from_var, F.col("__hs"))
                    if ac is not None:
                        e = e.filter(ac)
                e = guarded(e)
                # anchor condition for the directed case already applied;
                # isin anchors apply here too
                if rel["dir"] == "-" and from_var in id_in:
                    e = e.filter(F.col("__hs").isin(id_in[from_var]))
                cur = e.select(
                    F.col("__hs").alias(f"__v_{from_var}"),
                    F.col("__hd").alias(f"__v_{nvar}"),
                    F.col(wcol).alias(f"__w_{rvar}" if rvar else wcol),
                    *([F.col(es_k), F.col(ed_k)] if multi_hop else []),
                )
                if multi_hop:
                    clause_pairs.append((es_k, ed_k))
                cols[from_var] = f"__v_{from_var}"
                anchored = anchored or from_var in id_eq
            else:
                # subsequent hop: join filtered edge scan with the chain
                if rel["dir"] == "-":
                    fw = edges.select(
                        F.col("src").alias("__hs"), F.col("dst").alias("__hd"),
                        F.col("similitud").alias(wcol), *pair_sel,
                    )
                    bw = edges.select(
                        F.col("dst").alias("__hs"), F.col("src").alias("__hd"),
                        F.col("similitud").alias(wcol), *pair_sel,
                    )
                    e = fw.unionByName(bw)
                e = guarded(e)
                fv = id_eq.get(from_var)
                if fv is not None:
                    e = e.filter(F.col("__hs") == F.lit(fv))
                if mc["optional"]:
                    # Cypher filters the OPTIONAL pattern BEFORE
                    # null-preservation: node predicates / id anchors on
                    # the optional node prune the hit set pattern-side —
                    # applying them after the left join would drop anchor
                    # rows whose optional hop found no QUALIFYING match
                    # instead of preserving them with NULLs.
                    for prop, op, v in prop_guards.pop(nvar, []):
                        if nodes is None:
                            raise ValueError(
                                "node-property predicate needs the nodes frame"
                            )
                        if prop == "id" or prop not in nodes.columns:
                            raise ValueError(
                                f"unknown node property {prop!r}; "
                                f"nodes frame has {nodes.columns}"
                            )
                        nf = nodes.filter(
                            _OPS[op](F.col(prop), F.lit(v))
                        ).select(F.col("id").alias("__nid"))
                        e = e.join(nf, e["__hd"] == nf["__nid"], "semi")
                    ac = node_anchor_cond(nvar, F.col("__hd"))
                    if ac is not None:
                        e = e.filter(ac)
                    # chain preserved on no-match; the (anchored, hence
                    # tiny) qualifying hit set broadcasts into the join
                    cur = cur.join(
                        F.broadcast(e) if anchored else e,
                        cur[cols[from_var]] == e["__hs"],
                        "left",
                    )
                else:
                    # edge scan streams; the anchored chain broadcasts
                    chain = F.broadcast(cur) if anchored else cur
                    cur = e.join(chain, e["__hs"] == chain[cols[from_var]], "inner")
                cur = cur.drop("__hs").withColumnRenamed("__hd", f"__v_{nvar}")
                if rvar:
                    cur = cur.withColumnRenamed(wcol, f"__w_{rvar}")
                if multi_hop:
                    # relationship uniqueness: this hop may not rebind a
                    # stored relationship an earlier hop of this clause
                    # already bound (Neo4j excludes such rows)
                    for es_j, ed_j in clause_pairs:
                        cur = cur.filter(
                            ~(
                                (F.col(es_k) == F.col(es_j))
                                & (F.col(ed_k) == F.col(ed_j))
                            )
                        )
                    clause_pairs.append((es_k, ed_k))

            cols[nvar] = f"__v_{nvar}"
            if rvar:
                cols[rvar] = f"__w_{rvar}"

            # node-property predicates on the newly bound node
            for prop, op, v in prop_guards.pop(nvar, []):
                if nodes is None:
                    raise ValueError("node-property predicate needs the nodes frame")
                if prop == "id" or prop not in nodes.columns:
                    raise ValueError(
                        f"unknown node property {prop!r}; nodes frame has {nodes.columns}"
                    )
                nf = nodes.filter(_OPS[op](F.col(prop), F.lit(v))).select(
                    F.col("id").alias("__nid")
                )
                # corpus-sized nodes scan streams; tiny chain broadcasts
                chain = F.broadcast(cur) if anchored else cur
                cur = nf.join(chain, nf["__nid"] == chain[cols[nvar]]).drop("__nid")

            # id anchor on the newly bound (non-source) node: plain
            # filter. Optional hops already consumed it pattern-side —
            # re-applying here would drop the preserved NULL rows.
            if not mc["optional"]:
                ac = node_anchor_cond(nvar, F.col(cols[nvar]))
                if ac is not None:
                    cur = cur.filter(ac)

    # ---- join the carried WITH scope ---------------------------------------
    # The previous segment's projection is the variable environment:
    # re-matched node aliases and `{id: alias}` anchors join the chain
    # against it; value aliases ride along for later projection. A
    # LIMIT-bounded / globally-aggregated env broadcasts.
    if env is not None:
        if cur is None:
            # no chain in this segment (pure projection / deferred
            # optionals): the carried scope IS the frame
            cur = env
            for a in env.columns:
                if env_kinds.get(a) == "node":
                    cols[a] = a
        else:
            envr = env.select(
                [F.col(a).alias(f"__env_{a}") for a in env.columns]
            )
            shared = [v for v in env.columns if v in cols]
            env_conds = [cur[cols[v]] == envr[f"__env_{v}"] for v in shared]
            for avar, aname in env_anchors:
                if aname not in env.columns:
                    raise CypherUnsupported(
                        f"{{id: {aname}}} references no carried alias"
                    )
                if avar not in cols:
                    raise CypherUnsupported(
                        f"anchor variable {avar!r} is not bound"
                    )
                env_conds.append(cur[cols[avar]] == envr[f"__env_{aname}"])
            if env_conds:
                jc = env_conds[0]
                for c in env_conds[1:]:
                    jc = jc & c
                cur = cur.join(
                    F.broadcast(envr) if env_small else envr, jc, "inner"
                )
            elif env_small:
                cur = cur.crossJoin(F.broadcast(envr))
            else:
                raise CypherUnsupported(
                    "MATCH after WITH must share a variable with the "
                    "carried scope (or the carried rows must be "
                    "LIMIT-bounded for a cross product)"
                )
            for a in env.columns:
                if a in shared:
                    cur = cur.drop(f"__env_{a}")
                else:
                    cur = cur.withColumnRenamed(f"__env_{a}", a)
                    if env_kinds.get(a) == "node":
                        cols[a] = a
    elif env_anchors:
        raise CypherUnsupported(
            "{id: alias} anchors need a carried WITH/UNWIND scope"
        )

    # ---- deferred OPTIONAL MATCH clauses ------------------------------------
    # Each compiles as its OWN required chain (guards applied
    # pattern-side), then ONE left join onto the bound scope — Cypher's
    # all-or-nothing contract holds by construction for any hop count.
    for mc in deferred:
        # carried-alias ("bare") comparisons reference the BOUND scope
        # only (round 11, verdict-r10 item 3): they join the LEFT-join
        # condition instead of the optional sub-chain — a row failing
        # the predicate simply doesn't match (ONE null row), which is
        # Cypher's semantics for a per-row condition inside OPTIONAL
        # MATCH; a post-join filter would drop preserved rows and a
        # post-join null-out would multiply them.
        bare_env = [
            c for c in mc["where"]
            if c[0] == "bare" and env is not None and c[1] in env_kinds
        ]
        if bare_env:
            mc = {**mc, "where": [c for c in mc["where"] if c not in bare_env]}
        bare_cond = None
        for _, balias, bop, bval in bare_env:
            bc = _OPS[bop](cur[balias], F.lit(resolve(bval)))
            bare_cond = bc if bare_cond is None else bare_cond & bc
        if any(r["varlen"] for r, _n in mc["pattern"][1:]):
            # OPTIONAL var-length tail (round 9, verdict-r8 item 6):
            # a BFS frame LEFT-joined on the bound start variable. The
            # seed set rides as a DataFrame (multi_source_bfs round-9
            # overload), so the expansion stays distributed however
            # large the bound scope is; unreachable seeds keep their
            # row with null endpoint/length — Cypher's OPTIONAL
            # contract. (Neo4j parity: optional allShortestPaths-style
            # tails like OPTIONAL MATCH (b)-[r2*1..3]->(c).) Round 11:
            # exists/pattern atoms apply to the BFS endpoint frame
            # before the left join; bare atoms ride the join condition.
            cur = _optional_varlen_tail(
                mc, cur, cols, edges, resolve, node_vars, rel_vars,
                varlen_lens, nodes=nodes, params=params,
                extra_cond=bare_cond,
            )
            continue
        sub_seg = {
            "unwind": [], "matches": [{**mc, "optional": False}],
            "project": None, "project_star": False, "post_where": [],
            "order": [], "skip": None, "limit": None, "distinct": False,
            "is_return": False,
        }
        sub_cur, sub_cols, sub_nodes, sub_rels = _compile_segment(
            sub_seg, nodes, edges, params, None, {}, False, raw=True
        )
        shared_vars = [v for v in sub_cols if v in cols]
        if not shared_vars:
            raise CypherUnsupported(
                "OPTIONAL MATCH must share a variable with the bound scope"
            )
        subr = sub_cur.select(
            [F.col(c).alias(f"__sub_{c}") for c in sub_cur.columns]
        )
        jc = None
        for v in shared_vars:
            c = cur[cols[v]] == subr[f"__sub_{sub_cols[v]}"]
            jc = c if jc is None else jc & c
        if bare_cond is not None:
            jc = jc & bare_cond
        cur = cur.join(subr, jc, "left")
        for v, scol in sub_cols.items():
            if v in shared_vars:
                continue
            cur = cur.withColumnRenamed(f"__sub_{scol}", scol)
            cols[v] = scol
            if v in sub_nodes:
                node_vars.add(v)
            if v in sub_rels:
                rel_vars.add(v)
        for c in list(cur.columns):
            if c.startswith("__sub_"):
                cur = cur.drop(c)

    # ---- WHERE [NOT] (a)-[:T]->(b) pattern predicates (round 7) -----------
    # Neo4j's existential sugar. Both endpoints bound -> a direct
    # SEMI/ANTI join against the (direction-oriented) edge pair set; one
    # endpoint bound -> rewritten into the EXISTS subquery machinery
    # below via _pattern_items_text (reversed first if the BOUND
    # endpoint is the pattern's last, so the subchain anchors on it);
    # neither bound raises.
    def _reversed_items(items) -> list:
        flipped = {"<": ">", ">": "<", "-": "-"}
        out: list = [items[-1][1]]
        hops = items[1:]
        for i in range(len(hops) - 1, -1, -1):
            rel, _node = hops[i]
            left_node = hops[i - 1][1] if i > 0 else items[0]
            out.append(({**rel, "dir": flipped[rel["dir"]]}, left_node))
        return out

    for negated, items in pattern_guards:
        if len(items) < 2:
            raise CypherUnsupported("pattern predicate needs a relationship")
        first_var = items[0]["var"]
        last_var = items[-1][1]["var"]
        first_bound = first_var in cols
        last_bound = last_var in cols
        if first_bound and last_bound:
            if len(items) > 2:
                raise CypherUnsupported(
                    "multi-hop pattern predicates with BOTH endpoints bound "
                    "are unsupported"
                )
            rel = items[1][0]
            if rel["varlen"]:
                raise CypherUnsupported(
                    "var-length pattern predicates are unsupported"
                )
            if edges is None:
                raise ValueError("pattern predicate needs the edges frame")
            if rel["dir"] == "<":
                pairs = edges.select(
                    F.col("dst").alias("__pa"), F.col("src").alias("__pb")
                )
            elif rel["dir"] == ">":
                pairs = edges.select(
                    F.col("src").alias("__pa"), F.col("dst").alias("__pb")
                )
            else:
                pairs = edges.select(
                    F.col("src").alias("__pa"), F.col("dst").alias("__pb")
                ).unionByName(
                    edges.select(
                        F.col("dst").alias("__pa"), F.col("src").alias("__pb")
                    )
                )
            cur = cur.join(
                pairs,
                (cur[cols[first_var]] == pairs["__pa"])
                & (cur[cols[last_var]] == pairs["__pb"]),
                "left_anti" if negated else "left_semi",
            )
        elif first_bound or last_bound:
            ordered = items if first_bound else _reversed_items(items)
            exists_guards.append((negated, _pattern_items_text(ordered)))
        else:
            raise CypherUnsupported(
                "pattern predicate must reference at least one bound variable"
            )

    # ---- WHERE [NOT] EXISTS { pattern [WHERE ...] } (round 7) -------------
    # The subpattern's FIRST node variable must be bound by the outer
    # chain (Neo4j scoping: outer variables are visible inside the
    # subquery); all other subpattern variables must be fresh. Each
    # guard compiles the subpattern as its own (unanchored) chain over
    # the same frames, projects the bound variable's distinct ids, and
    # SEMI-joins (ANTI for NOT) the outer chain against that hit set —
    # existence is a set intersection, never a row-multiplying join,
    # so outer cardinality is preserved by construction. At scale the
    # hit set is a filtered edge scan; AQE broadcasts whichever side
    # is small.
    for negated, inner in exists_guards:
        anchor_var, sub = _compile_exists_subchain(
            inner, set(cols), nodes, edges, params,
            clash_vars=node_vars | rel_vars,
        )
        cur = cur.join(
            sub,
            cur[cols[anchor_var]] == sub["__ex_id"],
            "left_anti" if negated else "left_semi",
        )

    # ---- projection / aggregation ----------------------------------------
    def attach_node_prop(var: str, prop: str) -> str:
        """RETURN of a non-id node property (round-6 second session):
        lazily LEFT-join the nodes frame once per (var, prop) — left,
        because a node id present in the edge set but absent from the
        nodes frame must project NULL (Cypher reads a missing property
        as null), and because an OPTIONAL-match null id must survive."""
        nonlocal cur
        pcol = f"__p_{var}_{prop}"
        if pcol in cur.columns:
            return pcol
        if nodes is None:
            raise ValueError("node-property projection needs the nodes frame")
        if prop not in nodes.columns:
            raise ValueError(
                f"unknown node property {prop!r}; nodes frame has {nodes.columns}"
            )
        nf = nodes.select(
            F.col("id").alias(f"__pj_{var}"), F.col(prop).alias(pcol)
        )
        joined = cur.join(
            nf, cur[cols[var]] == nf[f"__pj_{var}"], "left"
        ).drop(f"__pj_{var}")
        cur = joined
        return pcol

    def item_col(kind, var, prop):
        if kind == "prop":
            if var in node_vars:
                if prop != "id":
                    return F.col(attach_node_prop(var, prop))
                return F.col(cols[var])
            if var in rel_vars:
                if prop != "similitud":
                    raise CypherUnsupported(
                        f"unknown relationship property {prop!r}"
                    )
                return F.col(cols[var])
            raise CypherUnsupported(f"unknown variable {var!r}")
        if kind == "length":
            if var not in varlen_lens:
                raise CypherUnsupported("length() is supported on var-length relationships only")
            return F.col(f"__len_{var}")
        raise CypherUnsupported(f"unsupported item kind {kind!r}")

    def expr_col(e):
        """Computed RETURN/WITH expression AST -> Column (round 7)."""
        kind = e[0]
        if kind == "num" or kind == "str":
            return F.lit(e[1])
        if kind == "param":
            return F.lit(params[e[1]])
        if kind == "prop":
            return item_col("prop", e[1], e[2])
        if kind == "var":
            # bare identifier: pattern variable (node id / rel weight)
            # or a WITH-carried alias column
            if e[1] in cols:
                return F.col(cols[e[1]])
            return F.col(e[1])
        if kind == "neg":
            return -expr_col(e[1])
        if kind == "bin":
            op, l, r = e[1], expr_col(e[2]), expr_col(e[3])
            if op == "+":
                return l + r
            if op == "-":
                return l - r
            if op == "*":
                return l * r
            return l / r
        if kind == "case":
            out = None
            for c, v in e[1]:
                out = (F.when if out is None else out.when)(cond_col(c), expr_col(v))
            return out.otherwise(expr_col(e[2])) if e[2] is not None else out
        if kind == "fn":
            if e[1] == "length":
                if e[2][0][0] != "var":
                    raise CypherUnsupported(
                        "length() takes a var-length relationship variable"
                    )
                return item_col("length", e[2][0][1], None)
            return _EXPR_FNS[e[1]][1]([expr_col(a) for a in e[2]])
        raise CypherUnsupported(f"unsupported expression node {kind!r}")

    def cond_col(c):
        kind = c[0]
        if kind == "cmp":
            return _OPS[c[1]](expr_col(c[2]), expr_col(c[3]))
        if kind == "and":
            return cond_col(c[1]) & cond_col(c[2])
        if kind == "or":
            return cond_col(c[1]) | cond_col(c[2])
        if kind == "not":
            return ~cond_col(c[1])
        raise CypherUnsupported(f"unsupported condition node {kind!r}")

    def project(frame: DataFrame, items: list) -> DataFrame:
        # attach any non-id node-property columns FIRST (each attach
        # left-joins the nodes frame onto `cur`), then rebind the frame
        # so the projection sees them
        for k, v, p, _a in items:
            if (
                k == "prop" or k in _AGG_KINDS or k.startswith("agg:")
            ) and v in node_vars and p not in (None, "id"):
                attach_node_prop(v, p)
            elif k == "expr":
                props: list = []
                _expr_walk(v, props, [])
                for evar, eprop in props:
                    if evar in node_vars and eprop != "id":
                        attach_node_prop(evar, eprop)
        frame = cur
        aggs = [(k, v, p, a) for k, v, p, a in items
                if k in _AGG_KINDS or k.startswith("agg:")]
        if aggs:
            keys = [(k, v, p, a) for k, v, p, a in items
                    if not (k in _AGG_KINDS or k.startswith("agg:"))]
            gb = []
            for k, v, p, a in keys:
                if k == "bare":
                    # grouping on a pattern variable (its id / weight)
                    # or a carried alias column
                    if v in cols:
                        gb.append(F.col(cols[v]).alias(a))
                    elif v in frame.columns:
                        gb.append(F.col(v).alias(a))
                    else:
                        raise CypherUnsupported(f"unknown alias {v!r}")
                elif k == "expr":
                    gb.append(expr_col(v).alias(a))
                else:
                    gb.append(item_col(k, v, p).alias(a))
            agg_fns = {
                "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
                # Neo4j stDev = sample, stDevP = population
                "stdev": F.stddev_samp, "stdevp": F.stddev_pop,
            }
            agg_cols = []
            for k, v, p, a in aggs:
                if k == "countstar":
                    agg_cols.append(F.count(F.lit(1)).alias(a))
                    continue
                if k in _AGG_KINDS:
                    if p is None:
                        if v not in cols:
                            raise CypherUnsupported(
                                f"{k.rstrip('d')}() over unknown variable {v!r}"
                            )
                        target = F.col(cols[v])
                    else:
                        # [count|collect]([DISTINCT] v.prop): nulls
                        # skipped, Cypher's contract (Spark's too)
                        target = item_col("prop", v, p)
                    if k == "countd":
                        agg_cols.append(F.count_distinct(target).alias(a))
                    elif k == "count":
                        agg_cols.append(F.count(target).alias(a))
                    else:
                        # collect(): Cypher list order is unspecified
                        # (B5) — sorted for engine reproducibility,
                        # the $push determinism rule
                        inner = (
                            F.collect_set(target) if k == "collectd"
                            else F.collect_list(target)
                        )
                        agg_cols.append(F.sort_array(inner).alias(a))
                    continue
                if k.startswith("agg:pctc:"):
                    # percentileCont: Spark's exact interpolated
                    # percentile aggregate — Neo4j's contract
                    q = float(k.rsplit(":", 1)[1])
                    agg_cols.append(
                        F.percentile(item_col("prop", v, p), F.lit(q)).alias(a)
                    )
                    continue
                # sum/avg/min/max/stDev[P] over a property expression
                agg_cols.append(agg_fns[k[4:]](item_col("prop", v, p)).alias(a))
            return frame.groupBy(*gb).agg(*agg_cols)
        sel = []
        for k, v, p, a in items:
            if k == "bare":
                if v in frame.columns:
                    sel.append(F.col(v).alias(a))
                elif v in cols:
                    # bare pattern variable: a node projects its id, a
                    # relationship its similitud (Neo4j projects whole
                    # entities; id/weight is our tabular stand-in)
                    sel.append(F.col(cols[v]).alias(a))
                else:
                    raise CypherUnsupported(f"unknown alias {v!r}")
            elif k == "expr":
                sel.append(expr_col(v).alias(a))
            else:
                sel.append(item_col(k, v, p).alias(a))
        return frame.select(*sel)

    # computed WHERE conditions (round 7): `r.similitud * 2 > 50`,
    # CASE-based guards — evaluated through the same expression
    # machinery RETURN uses, as plain post-chain filters (WHERE
    # precedes projection/aggregation, Cypher's contract). Node
    # property leaves attach their lazy nodes join first.
    for c_ast in expr_conds:
        c_props: list = []
        _expr_walk(c_ast, c_props, [])
        for cv, cp in c_props:
            if cv in node_vars and cp != "id":
                attach_node_prop(cv, cp)
        cur = cur.filter(cond_col(c_ast))

    # guards on carried-but-not-rematched node aliases: their nodes
    # join attaches lazily, then a plain filter
    for gvar in [v for v in list(prop_guards) if v in cols and v not in chain_var_set]:
        for prop, op, v in prop_guards.pop(gvar):
            pcol = attach_node_prop(gvar, prop)
            cur = cur.filter(_OPS[op](F.col(pcol), F.lit(v)))
    for gvar in [v for v in list(id_eq) if v in env_node_aliases and v not in chain_var_set and v in cols]:
        cur = cur.filter(F.col(cols[gvar]) == F.lit(id_eq.pop(gvar)))
    for gvar in [v for v in list(id_in) if v in env_node_aliases and v not in chain_var_set and v in cols]:
        cur = cur.filter(F.col(cols[gvar]).isin(id_in.pop(gvar)))
    if prop_guards:
        leftover = sorted(prop_guards)
        raise CypherUnsupported(
            f"property predicates on unbound variables: {leftover}"
        )
    # carried-alias comparisons written in a MATCH segment's WHERE
    for balias, bop, bval in env_bare:
        cur = cur.filter(_OPS[bop](F.col(balias), F.lit(resolve(bval))))

    if raw:
        return cur, dict(cols), set(node_vars), set(rel_vars)

    # ---- segment projection -------------------------------------------------
    items = seg["project"]
    if seg["project_star"] and env is not None:
        # WITH * / RETURN * after a WITH: carried aliases come first
        # (Neo4j scope order), then this segment's pattern variables
        taken = {it[3] for it in items}
        items = [
            ("bare", a, None, a) for a in env.columns if a not in taken
        ] + items
    out = project(cur, items)
    if seg["distinct"]:
        if any(k in _AGG_KINDS for k, *_ in items):
            raise CypherUnsupported(
                "DISTINCT with aggregates is unsupported"
            )
        out = out.distinct()

    # ---- ORDER BY / SKIP / LIMIT / post-projection WHERE ---------------------
    if seg["order"]:
        # resolve each order expression to a projected alias
        alias_of: dict[str, str] = {}
        for k, v, p, a in items:
            alias_of[a] = a
            if k == "prop":
                alias_of[f"{v}.{p}"] = a
            elif k in ("count", "length"):
                alias_of[f"{k}({v})"] = a
            elif k == "bare":
                alias_of[v] = alias_of.get(v, a)
        def order_expr_col(e):
            # computed ORDER BY compiler: the post-projection scope is
            # the projected ALIASES only (Neo4j's rule for aggregating
            # projections; adopted uniformly here)
            kind = e[0]
            if kind in ("num", "str"):
                return F.lit(e[1])
            if kind == "param":
                return F.lit(params[e[1]])
            if kind == "var":
                a = alias_of.get(e[1])
                if a is None:
                    raise CypherUnsupported(
                        f"ORDER BY references {e[1]!r} which is not in "
                        "the projection"
                    )
                return F.col(a)
            if kind == "prop":
                a = alias_of.get(f"{e[1]}.{e[2]}")
                if a is None:
                    raise CypherUnsupported(
                        f"ORDER BY references {e[1]}.{e[2]} which is not "
                        "in the projection"
                    )
                return F.col(a)
            if kind == "neg":
                return -order_expr_col(e[1])
            if kind == "bin":
                op2, l, r = e[1], order_expr_col(e[2]), order_expr_col(e[3])
                if op2 == "+":
                    return l + r
                if op2 == "-":
                    return l - r
                if op2 == "*":
                    return l * r
                return l / r
            if kind == "fn":
                if e[1] == "length":
                    raise CypherUnsupported(
                        "length() in ORDER BY: project it in the WITH/"
                        "RETURN items and order by the alias"
                    )
                return _EXPR_FNS[e[1]][1]([order_expr_col(a) for a in e[2]])
            if kind == "case":
                built = None
                for c0, v0 in e[1]:
                    built = (F.when if built is None else built.when)(
                        order_cond_col(c0), order_expr_col(v0)
                    )
                return (
                    built.otherwise(order_expr_col(e[2]))
                    if e[2] is not None else built
                )
            raise CypherUnsupported(f"unsupported ORDER BY node {kind!r}")

        def order_cond_col(c0):
            kind = c0[0]
            if kind == "cmp":
                return _OPS[c0[1]](order_expr_col(c0[2]), order_expr_col(c0[3]))
            if kind == "and":
                return order_cond_col(c0[1]) & order_cond_col(c0[2])
            if kind == "or":
                return order_cond_col(c0[1]) | order_cond_col(c0[2])
            if kind == "not":
                return ~order_cond_col(c0[1])
            raise CypherUnsupported(f"unsupported ORDER BY condition {kind!r}")

        order_cols = []
        for expr, direction in seg["order"]:
            if isinstance(expr, tuple) and expr[0] == "expr":
                c = order_expr_col(expr[1])
            else:
                a = alias_of.get(expr)
                if a is None:
                    raise CypherUnsupported(
                        f"ORDER BY expression {expr!r} is not in the projection"
                    )
                c = F.col(a)
            order_cols.append(c.desc() if direction == "DESC" else c.asc())
        out = out.orderBy(*order_cols)
    if seg["skip"] is not None:
        out = out.offset(int(resolve(seg["skip"])))
    if seg["limit"] is not None:
        out = out.limit(int(resolve(seg["limit"])))
    # WHERE attached to a WITH filters its projection; per clause order
    # it applies after the WITH's ORDER BY/SKIP/LIMIT
    for c in seg["post_where"]:
        if c[0] != "bare":
            raise CypherUnsupported(
                "post-WITH WHERE supports alias comparisons only"
            )
        _, alias, op, val = c
        if alias not in out.columns:
            raise CypherUnsupported(
                f"unknown alias {alias!r} in post-WITH WHERE"
            )
        out = out.filter(_OPS[op](F.col(alias), F.lit(resolve(val))))

    # ---- carried-scope metadata for the next segment -------------------------
    kinds: dict[str, str] = {}
    for k, v, p, a in items:
        if k == "bare":
            if v in node_vars:
                kinds[a] = "node"
            else:
                kinds[a] = env_kinds.get(v, "value")
        elif k == "prop" and p == "id" and v in node_vars:
            kinds[a] = "node"
        elif k in ("collect", "collectd") and p is None and v in node_vars:
            kinds[a] = "node_list"
        else:
            kinds[a] = "value"
    is_agg = [k in _AGG_KINDS or k.startswith("agg:") for k, *_ in items]
    small = seg["limit"] is not None or (any(is_agg) and all(is_agg))
    return out, kinds, small
