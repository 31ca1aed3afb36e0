"""Seeded inputs: corpus pages, the query stream and the mutation terms.

Everything the engine receives is a pure function of the seed:

- the corpus is `engine.corpus.generate_batch` over row ids shifted by a
  seed-derived offset, so two seeds index different pages. The lineage
  column `row_id` is renumbered 0..N-1 because `ingest_batch` windows
  start at offset 0 (shifted row ids would make the first window empty);
- the query stream is built from blocks with a fixed order of term
  classes, conjunctive slots and repeats; term counts and k rotate with
  the position in the stream, and the seed picks the terms, so every seed
  and every run length sees the same mix;
- mutation terms are drawn by the seed from the tail terms whose live
  document frequency (tracked by `LiveModel`) is in a fixed band.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from engine.analysis import py_tokenize
from engine.corpus import HOT_TERM, _zipf_cdf, build_vocab, generate_batch

VOCAB = build_vocab(5000)
ZIPF_CDF = _zipf_cdf(len(VOCAB) - 1)

HEAD_TERMS = VOCAB[1:51]          # Zipf ranks 1-50 (HOT_TERM is VOCAB[0])
TAIL_TERMS = VOCAB[1000:]         # Zipf ranks 1000+
TERM_CLASSES = ("hot", "head", "tail", "absent")
# the warm-up query's term: Zipf rank 500, a class the stream never draws
WARM_UP_TERM = VOCAB[500]

# one block of the query stream, in a fixed order so that every prefix of
# the stream holds the same mix: (class, term counts to draw from,
# conjunctive); "repeat" re-issues a query of the block, a df memo hit
_BLOCK = (
    ("head", (1, 2), False),
    ("tail", (1, 2, 3, 4), False),
    ("hot", (1, 2), False),
    ("repeat", (), False),
    ("absent", (1, 2, 3), False),
    ("head", (2,), True),
)
_KS = (1, 10, 100)

# live-df band for update/delete terms: small enough to be a tail term,
# large enough that the mutation always touches documents
MUTATION_DF = (4, 40)


def row_shift(seed: int) -> int:
    """Row-id offset of the corpus for `seed` (never 0: ids 0-5 are the
    generator's special edge-case rows)."""
    return 1_000_000 * (1 + seed % 100_000)


def corpus_pages(seed: int, n_docs: int) -> pd.DataFrame:
    """The corpus rows (CORPUS_SCHEMA column order) for `seed`."""
    ids = np.arange(n_docs, dtype=np.uint64)
    pdf = generate_batch(ids + np.uint64(row_shift(seed)), VOCAB, ZIPF_CDF)
    pdf["row_id"] = ids.astype(np.int64)
    return pdf


@dataclass(frozen=True)
class Query:
    terms: tuple[str, ...]
    k: int
    conjunctive: bool
    term_class: str
    repeat: bool


def _absent_term(rng: np.random.Generator) -> str:
    # no vocabulary word starts with "yq" (engine/corpus.py syllables)
    return "yq" + "".join(rng.choice(list("yxzq"), size=5))


def _terms_for(rng: np.random.Generator, cls: str, n: int) -> tuple[str, ...]:
    if cls == "hot":
        rest = list(rng.choice(HEAD_TERMS, size=n - 1, replace=False))
        return tuple([HOT_TERM] + rest)
    if cls == "head":
        return tuple(rng.choice(HEAD_TERMS, size=n, replace=False))
    if cls == "tail":
        return tuple(rng.choice(TAIL_TERMS, size=n, replace=False))
    # absent: one term no document has, plus tail terms that do match
    return tuple([_absent_term(rng)] + list(rng.choice(TAIL_TERMS, size=n - 1, replace=False)))


def query_stream(seed: int, n_blocks: int = 60) -> list[Query]:
    """Seeded query stream: blocks of _BLOCK slots. The seed picks the
    terms. The term count, k and which query a repeat slot re-issues
    rotate with the block and slot position, so every seed runs the same
    query shapes in the same order and a short window sees the same mix."""
    rng = np.random.default_rng([seed % 2**32, 1])
    out: list[Query] = []
    for b in range(n_blocks):
        block: list[Query] = []
        for i, (cls, counts, conj) in enumerate(_BLOCK):
            if cls == "repeat":
                q = block[b % 2]
                block.append(Query(q.terms, q.k, q.conjunctive, q.term_class, True))
                continue
            n = counts[(b + i) % len(counts)]
            k = _KS[(b + i) % len(_KS)]
            block.append(Query(_terms_for(rng, cls, n), k, conj, cls, False))
        out.extend(block)
    return out


class LiveModel:
    """The benchmark's own model of which version of each url is live.

    Mirrors the documented semantics of the public calls: ingest adds
    pages, update_by_query rewrites every live page holding the term,
    delete_by_query removes every live page holding the term. Correctness
    checks compare engine results against it."""

    def __init__(self) -> None:
        self.text: dict[str, str] = {}      # url -> live text
        self._terms: dict[str, set[str]] = {}
        self._df: dict[str, int] = {}

    def add(self, urls, texts) -> None:
        for u, t in zip(urls, texts):
            if u in self.text:
                self._drop(u)
            self.text[u] = t
            self._terms[u] = ts = set(py_tokenize(t))
            for term in ts:
                self._df[term] = self._df.get(term, 0) + 1

    def _drop(self, url: str) -> None:
        del self.text[url]
        for term in self._terms.pop(url):
            self._df[term] -= 1

    def matching(self, term: str) -> list[str]:
        return sorted(u for u, ts in self._terms.items() if term in ts)

    def update(self, term: str, suffix: str) -> int:
        hit = self.matching(term)
        self.add(hit, [self.text[u] + suffix for u in hit])
        return len(hit)

    def delete(self, term: str) -> int:
        hit = self.matching(term)
        for u in hit:
            self._drop(u)
        return len(hit)

    def pick_tail_term(self, rng: np.random.Generator, exclude: set[str]) -> str:
        """A seeded tail term whose live df is inside MUTATION_DF."""
        lo, hi = MUTATION_DF
        cands = [
            t for t in TAIL_TERMS
            if lo <= self._df.get(t, 0) <= hi and t not in exclude
        ]
        return cands[int(rng.integers(len(cands)))]


def fingerprint(*parts) -> str:
    """Short digest of the generated inputs, recorded with the seed."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(p[["url", "text"]], index=False).values.tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()[:16]
