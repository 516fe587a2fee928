"""Seeded corpus generators for the benchmark workloads.

Every workload is a ``documents.parquet`` with the columns the pipeline's
corpus derivation reads: ``(doc_id, text, lang, source, n_chars)``.  All
random draws are single vectorised NumPy calls; the only per-document
Python work is one ``str.join`` over an already-gathered word array, so a
20k-document corpus builds in well under a second.

The same ``(workload, seed, n_docs)`` always yields byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
N_SOURCES = 20

# the sf0.1 vocabulary plus nine more words of the same kind, 39 in all
# (1-7 chars, so every word is one or two WordPiece pieces)
DETECT_VOCAB = (
    "a the data spark table query key value row column order customer part "
    "line batch stream window merge join sort scan hash group agg filter "
    "vector big small fast slow index cache shard commit node graph plan "
    "task job"
).split()

# link_heavy: words are two 4-char pieces from an inventory of N_ROOTS roots
# with N_VARIANTS one-char variants each, drawn Zipf(ZIPF_A) over LINK_WORDS
N_ROOTS = 300
N_VARIANTS = 2
LINK_WORDS = 200_000
ZIPF_A = 0.8


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: str          # "detect" or "link": which generator builds the docs
    n_docs: int
    words_lo: int        # words per document, uniform in [lo, hi]
    words_hi: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload("detect_heavy", "detect", 1200, 230, 250),
        Workload("link_heavy", "link", 800, 30, 50),
    )
}


def _join_docs(words: np.ndarray, lengths: np.ndarray) -> list[str]:
    """Split one flat word array into documents of ``lengths`` words."""
    bounds = np.cumsum(lengths)[:-1]
    return [" ".join(ws) for ws in np.split(words, bounds)]


def _detect_words(rng: np.random.Generator, total: int) -> np.ndarray:
    vocab = np.array(DETECT_VOCAB, dtype=object)
    return vocab[rng.integers(0, len(vocab), size=total)]


def piece_inventory(rng: np.random.Generator) -> np.ndarray:
    """``N_ROOTS`` distinct 4-char roots, each with ``N_VARIANTS`` one-char
    variants: ~900 distinct 4-char pieces whose variants share 2 of 3
    character 3-grams with their root (the near-duplicates linking finds)."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    roots = np.unique(letters[rng.integers(0, 26, size=(4 * N_ROOTS, 4))], axis=0)
    roots = roots[rng.permutation(len(roots))[:N_ROOTS]]
    var = np.repeat(roots, N_VARIANTS, axis=0)
    pos = rng.integers(0, 4, size=len(var))
    # a different letter at one position: shift it by 1..25 (mod 26)
    shift = rng.integers(1, 26, size=len(var))
    rows = np.arange(len(var))
    var[rows, pos] = (var[rows, pos] - 97 + shift) % 26 + 97
    allp = np.unique(np.concatenate([roots, var]), axis=0)
    return np.array([bytes(r).decode() for r in allp], dtype=object)


def _link_words(rng: np.random.Generator, total: int) -> np.ndarray:
    pieces = piece_inventory(rng)
    n = len(pieces)
    pairs = rng.choice(n * n, size=LINK_WORDS, replace=False)
    vocab = pieces[pairs // n] + pieces[pairs % n]  # two 4-char pieces
    # Zipf(a) over ranks 1..LINK_WORDS by inverse CDF (numpy's zipf needs a > 1)
    cdf = np.cumsum(np.arange(1, LINK_WORDS + 1, dtype=np.float64) ** -ZIPF_A)
    ranks = np.searchsorted(cdf, rng.random(total) * cdf[-1])
    return vocab[np.minimum(ranks, LINK_WORDS - 1)]


def make_documents(w: Workload, seed: int, n_docs: int | None = None) -> pa.Table:
    n_docs = w.n_docs if n_docs is None else n_docs
    rng = np.random.default_rng([seed, 0 if w.corpus == "detect" else 1])
    lengths = rng.integers(w.words_lo, w.words_hi + 1, size=n_docs)
    draw = _detect_words if w.corpus == "detect" else _link_words
    texts = _join_docs(draw(rng, int(lengths.sum())), lengths)
    doc_id = np.arange(n_docs, dtype=np.int64)
    lang = LANGS[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    return pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(
            np.char.add("src", (doc_id % N_SOURCES).astype(str)).astype(object),
            pa.string()),
        "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n_docs)),
    })


def write_documents(table: pa.Table, sf_dir: str) -> str:
    """Write ``table`` as ``<sf_dir>/documents.parquet``; returns ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return sf_dir
