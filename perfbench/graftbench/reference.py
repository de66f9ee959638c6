"""Pure-Python references for the search workload's answers.

Each reference performs the engine's double-precision operations in the
engine's order (rational-idf BM25 with per-term partials added in term
order; left-fold dot products; one division per reciprocal rank), so the
scores are bit-identical and the top-k lists, ties broken by ascending
id, must match exactly.
"""

from __future__ import annotations

import math
import re

from sparkdiff.functions.text import MIN_TOKEN_LEN, STOPWORDS

_SPLIT = re.compile("[^a-z0-9]+")
_STOP = frozenset(STOPWORDS)


def tokens(text: str) -> list[str]:
    """``functions.text.tokens``: lowercase alnum tokens, stopwords and
    tokens shorter than ``MIN_TOKEN_LEN`` removed."""
    return [
        t for t in _SPLIT.split(text.lower()) if len(t) >= MIN_TOKEN_LEN and t not in _STOP
    ]


def bm25_topk(
    docs: list[tuple[int, list[str]]],
    terms: list[str],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[int]:
    """Doc ids of the BM25 top-``k`` for ``terms`` over ``(id, tokens)``."""
    tf = [[toks.count(w) for w in terms] for _, toks in docs]
    n_docs = float(len(docs))
    sum_dl = float(sum(len(toks) for _, toks in docs))
    df = [float(sum(1 for row in tf if row[j] > 0)) for j in range(len(terms))]
    avgdl = sum_dl / n_docs
    scored = []
    for (doc_id, toks), row in zip(docs, tf):
        dl = float(len(toks))
        score = 0.0
        for j in range(len(terms)):
            t = float(row[j])
            idf = (n_docs - df[j] + 0.5) / (df[j] + 0.5)
            norm = t + k1 * ((1.0 - b) + (b * dl) / avgdl)
            score = score + idf * ((t * (k1 + 1.0)) / norm)
        scored.append((-score, doc_id))
    return [doc_id for _, doc_id in sorted(scored)[:k]]


def cosine_topk(
    vectors: list[tuple[int, list[float]]], query: list[float], k: int
) -> list[int]:
    """Vector ids of the exact cosine top-``k`` for ``query``."""

    def fold(xs, ys):
        acc = 0.0
        for x, y in zip(xs, ys):
            acc = acc + x * y
        return acc

    nq = math.sqrt(fold(query, query))
    scored = []
    for vid, v in vectors:
        nv = math.sqrt(fold(v, v))
        cos = 0.0 if nq == 0.0 or nv == 0.0 else fold(query, v) / (nq * nv)
        scored.append((-cos, vid))
    return [vid for _, vid in sorted(scored)[:k]]


def rrf_topk(rankings: list[list[int]], k: int, c: int = 60) -> list[int]:
    """Reciprocal-rank fusion of ranked id lists (rank = position + 1)."""
    ids = sorted({i for r in rankings for i in r})
    pos = [{i: p + 1 for p, i in enumerate(r)} for r in rankings]
    scored = []
    for i in ids:
        score = None
        for ranks in pos:
            term = 1.0 / (float(c) + float(ranks[i])) if i in ranks else 0.0
            score = term if score is None else score + term
        scored.append((-score, i))
    return [i for _, i in sorted(scored)[:k]]
