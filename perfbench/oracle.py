"""Answers the benchmark expects, computed with Python and numpy from
the generated corpus alone (never through Spark).

Field mapping (the package's fixture contract): providencia = 'P-' ||
doc_id, tipo = source, anio = 2000 + doc_id % 25, texto = text; edges
are cosine x 100 of the embeddings, rounded to 4 digits, for every
ordered pair of distinct vectors.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import numpy as np

from datagen import Corpus

_NONWORD = re.compile(r"\W+")
# similarity values within this distance of a range bound may round
# either way (4-digit rounding of a double); either answer is accepted
EDGE_SLACK = 1e-3
SCORE_TOL = 1e-5

LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is", "in"],
    "es": ["el", "la", "de", "los", "las", "y", "que"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}
LANG_ORDER = ["en", "es", "de", "fr", "zh"]


def tokenize(text: str) -> list[str]:
    return [t for t in _NONWORD.split(text.lower()) if t]


def fingerprint(text: str) -> str:
    return hashlib.md5(re.sub(r"\s+", " ", text.lower().strip()).encode()).hexdigest()


def anio(doc_id: int) -> int:
    return 2000 + doc_id % 25


class Docs:
    """Per-document attributes and a token index over a corpus."""

    def __init__(self, c: Corpus):
        self.ids = [int(i) for i in c.doc_id]
        self.text = c.text
        self.tipo = c.source
        self.tokens = [tokenize(t) for t in c.text]
        self.token_sets = [set(t) for t in self.tokens]
        self.by_token: dict[str, list[int]] = {}
        for d, ts in zip(self.ids, self.token_sets):
            for t in ts:
                self.by_token.setdefault(t, []).append(d)

    def matches(self, d: int, field: str, value) -> bool:
        if field == "providencia":
            return f"P-{d}" == value
        if field == "tipo":
            return self.tipo[d] == value
        if field == "anio":
            return anio(d) == int(value)
        if field == "texto":
            return not self.token_sets[d].isdisjoint(tokenize(value))
        raise ValueError(field)

    def filter_ids(self, field: str, value, universe=None) -> set[int]:
        if field == "texto" and universe is None:
            out: set[int] = set()
            for t in tokenize(value):
                out.update(self.by_token.get(t, ()))
            return out
        ids = self.ids if universe is None else universe
        return {d for d in ids if self.matches(d, field, value)}


def cosine100(emb: np.ndarray, anchor: int | None = None) -> np.ndarray:
    """cosine x 100 with the package's arithmetic: float32 cast to
    double, dot and squared norms folded left to right, then
    dot / (|a| |b|) * 100. One row for ``anchor``, else the full matrix."""
    e = emb.astype(np.float64)
    sq = np.zeros(len(e))
    for j in range(e.shape[1]):
        sq = sq + e[:, j] * e[:, j]
    norms = np.sqrt(sq)
    rows = e if anchor is None else e[anchor : anchor + 1]
    rn = norms if anchor is None else norms[anchor : anchor + 1]
    dot = np.zeros((len(rows), len(e)))
    for j in range(e.shape[1]):
        dot = dot + rows[:, j : j + 1] * e[:, j]
    out = dot / (rn[:, None] * norms[None, :]) * 100
    return out[0] if anchor is not None else out


def check_edges(got: dict[str, float], sims: np.ndarray, anchor: int, lo: float, hi: float) -> str | None:
    """``got``: destino -> similitud. Every destination whose exact value
    sits inside [lo, hi] must be present, none outside it (up to
    EDGE_SLACK at the bounds), and each value must match."""
    for dst, v in got.items():
        j = int(dst.split("-", 1)[1])
        if j == anchor or not (lo - EDGE_SLACK <= sims[j] <= hi + EDGE_SLACK):
            return f"unexpected edge P-{anchor}->{dst} ({v})"
        if abs(v - sims[j]) > 1e-4:
            return f"edge P-{anchor}->{dst} has {v}, expected {sims[j]:.6f}"
    inside = np.nonzero((sims >= lo + EDGE_SLACK) & (sims <= hi - EDGE_SLACK))[0]
    for j in inside:
        if j != anchor and f"P-{j}" not in got:
            return f"missing edge P-{anchor}->P-{j} ({sims[j]:.4f})"
    return None


class Bm25:
    """Okapi BM25 (k1=1.2, b=0.75, Lucene idf) over the tokenized corpus."""

    def __init__(self, docs: Docs, k1: float = 1.2, b: float = 0.75):
        self.docs, self.k1, self.b = docs, k1, b
        self.tf = [Counter(t) for t in docs.tokens]
        self.dl = [len(t) for t in docs.tokens]
        lens = [n for n in self.dl if n]
        self.n = len(lens)
        self.avgdl = sum(lens) / self.n

    def scores(self, terms: list[str]) -> dict[int, float]:
        out: dict[int, float] = {}
        for t in sorted(set(terms)):
            post = self.docs.by_token.get(t, [])
            if not post:
                continue
            idf = math.log((self.n - len(post) + 0.5) / (len(post) + 0.5) + 1.0)
            for d in post:
                tf = self.tf[d][t]
                s = idf * (tf * (self.k1 + 1)) / (
                    tf + self.k1 * (1 - self.b + self.b * self.dl[d] / self.avgdl)
                )
                out[d] = out.get(d, 0.0) + s
        return out

    def check_top(self, rows: list[tuple[int, float]], terms: list[str], k: int) -> str | None:
        scores = self.scores(terms)
        want = sorted(scores.values(), reverse=True)[:k]
        if len(rows) != len(want):
            return f"bm25 {terms}: {len(rows)} rows, expected {len(want)}"
        for (d, s), w in zip(rows, want):
            if abs(s - w) > SCORE_TOL or abs(scores.get(d, -1.0) - s) > SCORE_TOL:
                return f"bm25 {terms}: doc {d} score {s}, expected rank score {w}"
        return None


def quality_score(text: str) -> float:
    """functions.text.quality_score for ASCII text."""
    n = len(text)
    alpha = sum(ch.isascii() and ch.isalpha() for ch in text)
    digit = sum(ch.isdigit() for ch in text)
    space = sum(ch in " \t\n\x0b\f\r" for ch in text)
    punct = n - alpha - digit - space
    n_tok = len(tokenize(text))
    score = (
        0.4 * min(n / 500.0, 1.0)
        + 0.4 * min(n_tok / 50.0, 1.0)
        + 0.1 * (1 - min(punct / max(n, 1.0) * 5, 1.0))
        + 0.1 * (1 - min(digit / max(n, 1.0) * 5, 1.0))
    )
    return score


def lang_id(tokens: list[str]) -> str:
    ts = set(tokens)
    hits = {lang: len(ts.intersection(LANG_STOPWORDS[lang])) for lang in LANG_ORDER}
    mx = max(hits.values())
    if mx <= 0:
        return "und"
    return next(lang for lang in LANG_ORDER if hits[lang] == mx)


def shingle_set(tokens: list[str], n: int = 3) -> set[str]:
    return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


def components(n_nodes_edges: list[tuple[int, int]]) -> int:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in n_nodes_edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return len({find(x) for x in parent})
