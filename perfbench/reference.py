"""Reference answers the benchmark checks the program against, computed
outside Spark: an order-insensitive value hash for registry queries
(compared with DuckDB running the query's SQL twin) and brute-force
Python rankers for the index-backed lookups."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from collections import Counter

# BM25 constants of the program's ranker (queries/retrieval.py)
K1 = 1.2
B = 0.75


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NULL" if v != v else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canonical_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive value hash: columns sorted by name, rows
    sorted by canonical cell text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(("|".join(columns[i] for i in order) + "\n").encode())
    for line in lines:
        h.update((line + "\n").encode())
    return h.hexdigest()


class TextCorpus:
    """Tokenised documents (lower-case whitespace split, the program's
    tokenizer) for brute-force BM25 and phrase ranking."""

    def __init__(self, docs: dict[int, str]):
        self.tokens = {d: t.lower().split() for d, t in docs.items()}
        self.tf = {d: Counter(t) for d, t in self.tokens.items()}
        self.df = Counter()
        for c in self.tf.values():
            self.df.update(c.keys())
        self.n = len(self.tokens)
        self.avgdl = sum(len(t) for t in self.tokens.values()) / max(self.n, 1)

    def bm25(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        terms = list(dict.fromkeys(terms))
        scores: dict[int, float] = {}
        for d, c in self.tf.items():
            dl = len(self.tokens[d])
            s, hit = 0.0, False
            for t in terms:
                f = c.get(t, 0)
                if not f:
                    continue
                hit = True
                df = self.df[t]
                idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
                s += idf * f * (K1 + 1.0) / (f + K1 * (1.0 - B + B * dl / self.avgdl))
            if hit:
                scores[d] = round(s, 6)
        ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
        return ranked[:k]

    def phrase(self, terms: list[str], k: int) -> list[tuple[int, int]]:
        n = len(terms)
        counts = {}
        for d, toks in self.tokens.items():
            c = sum(
                1 for i in range(len(toks) - n + 1) if toks[i:i + n] == terms
            )
            if c:
                counts[d] = c
        return sorted(counts.items(), key=lambda x: (-x[1], x[0]))[:k]


def ranking_matches(got: list[tuple], want: list[tuple], tol: float) -> bool:
    """Same length and, rank by rank, the same id — or, where scores
    tie within ``tol``, the same score (tied ids may swap)."""
    if len(got) != len(want):
        return False
    for (gid, gs), (wid, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return False
        if gid != wid:
            tied = [i for i, s in want if abs(s - ws) <= tol]
            if gid not in tied:
                return False
    return True
