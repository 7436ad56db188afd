"""Seeded synthetic inputs: a rulings corpus and its embeddings.

The tables have the schemas of the repository's parquet fixtures
(``documents``: doc_id, text, lang, source, n_chars; ``embeddings``:
vec_id, embedding array<float> of dimension 64, label), so the package
reads them exactly as it reads the fixtures. Everything derives from the
seed: the same seed gives byte-identical tables.

Text is lowercase ASCII words separated by single spaces, drawn from a
Zipf-distributed vocabulary, so tokenization, content fingerprints and
term statistics are easy to replay in the oracle. A fixed share of
documents repeat an earlier document's text with case and spacing
changed, which exact dedup must fold back onto the earlier id.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("de", "en", "es", "fr", "zh")
N_SOURCES = 20
DIM = 64
STOPWORDS = ("de", "la", "el", "que", "y", "los", "en", "del")
_CONSONANTS = "bcdfgjlmnprstv"
_VOWELS = "aeiou"


@dataclass
class Corpus:
    doc_id: np.ndarray  # int64
    text: list[str]
    lang: list[str]
    source: list[str]
    vec_id: np.ndarray  # int64
    embedding: np.ndarray  # float32, (n_vec, DIM)
    label: np.ndarray  # int32
    vocab: list[str]  # by descending corpus frequency rank


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: list[str] = list(STOPWORDS)
    seen = set(words)
    while len(words) < size:
        n_syl = int(rng.integers(2, 5))
        w = "".join(
            _CONSONANTS[rng.integers(len(_CONSONANTS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(n_syl)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def make_corpus(
    seed: int,
    n_docs: int,
    n_vecs: int,
    vocab_size: int = 4000,
    dup_share: float = 0.04,
) -> Corpus:
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, vocab_size)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks**-1.05
    p /= p.sum()
    lengths = rng.integers(40, 121, size=n_docs)
    words = rng.choice(vocab_size, size=int(lengths.sum()), p=p)
    texts: list[str] = []
    pos = 0
    for n in lengths:
        texts.append(" ".join(vocab[i] for i in words[pos : pos + n]))
        pos += n
    # near-verbatim repeats: same normalized content, different bytes
    n_dup = int(n_docs * dup_share)
    dup_ids = rng.choice(np.arange(1, n_docs), size=n_dup, replace=False)
    for d in dup_ids:
        src = texts[int(rng.integers(0, d))]
        toks = src.split(" ")
        k = int(rng.integers(0, len(toks)))
        toks[k] = toks[k].upper()
        texts[d] = "  ".join(toks[:2]) + " " + " ".join(toks[2:])
    lang = [LANGS[i] for i in rng.integers(0, len(LANGS), size=n_docs)]
    source = [f"src{i}" for i in rng.integers(0, N_SOURCES, size=n_docs)]
    emb = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    label = rng.integers(0, 10, size=n_vecs).astype(np.int32)
    return Corpus(
        doc_id=np.arange(n_docs, dtype=np.int64),
        text=texts,
        lang=lang,
        source=source,
        vec_id=np.arange(n_vecs, dtype=np.int64),
        embedding=emb,
        label=label,
        vocab=vocab,
    )


def documents_table(c: Corpus, rows: np.ndarray | None = None) -> pa.Table:
    idx = np.arange(len(c.doc_id)) if rows is None else rows
    text = [c.text[i] for i in idx]
    return pa.table(
        {
            "doc_id": pa.array(c.doc_id[idx], pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array([c.lang[i] for i in idx], pa.string()),
            "source": pa.array([c.source[i] for i in idx], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def embeddings_table(c: Corpus, rows: np.ndarray | None = None) -> pa.Table:
    idx = np.arange(len(c.vec_id)) if rows is None else rows
    flat = pa.array(c.embedding[idx].reshape(-1), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(c.vec_id[idx], pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(c.label[idx], pa.int32()),
        }
    )


def write_tables(c: Corpus, data_dir: str) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` the way the
    fixtures lay them out: one file per table."""
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(documents_table(c), os.path.join(data_dir, "documents.parquet"))
    pq.write_table(embeddings_table(c), os.path.join(data_dir, "embeddings.parquet"))
