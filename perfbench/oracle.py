"""Plain-Python reference answers for every operation the benchmark times.

Documents are analysed with the engine's own driver-side analyser
(``analysis.analyze``: punctuation tokenizer, stopwords, Porter stemmer),
so the oracle and the engine agree on terms by construction and differ
only in how they compute results. Scoring follows the formulas stated in
``search/ranking.py`` and ``tests/test_index_and_search.py``:

* BM25 with k1=1.2, b=0.75 and idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``;
* TF-IDF with the reference quirks: idf ``N/df`` (no log), query weight
  ``multiplicity · N/df``, cosine over query terms only;
* AND / OR / keyword / phrase as exact docid sets.

The oracle is mutable (``add``/``remove``) so the ingest probe can track
the live document set commit by commit.
"""

from __future__ import annotations

import math
from collections import Counter

from mini_search_engine_spark.analysis import analyze

K1 = 1.2
B = 0.75
RANKED = ("bm25", "tfidf")  # ops answered with a score map; the rest with docid sets


class Oracle:
    def __init__(self) -> None:
        self.tokens: dict[int, list[str]] = {}
        self.postings: dict[str, dict[int, int]] = {}
        self.total = 0

    @classmethod
    def of(cls, docs) -> "Oracle":
        o = cls()
        for d, text in docs:
            o.add(d, text)
        return o

    # -- live set ----------------------------------------------------------
    def add(self, docid: int, text: str) -> None:
        toks = analyze(text)
        self.tokens[docid] = toks
        self.total += len(toks)
        for t, tf in Counter(toks).items():
            self.postings.setdefault(t, {})[docid] = tf

    def remove(self, docid: int) -> None:
        toks = self.tokens.pop(docid)
        self.total -= len(toks)
        for t in set(toks):
            p = self.postings[t]
            del p[docid]
            if not p:
                del self.postings[t]

    # -- statistics --------------------------------------------------------
    @property
    def n_docs(self) -> int:
        return len(self.tokens)

    @property
    def avgdl(self) -> float:
        return self.total / self.n_docs if self.n_docs else 0.0

    def df(self) -> dict[str, int]:
        return {t: len(p) for t, p in self.postings.items()}

    def doclens(self) -> dict[int, int]:
        return {d: len(t) for d, t in self.tokens.items()}

    def posting_rows(self):
        """``(term, docid, positions)`` for every posting; a position is the
        token's index among the document's analysed tokens."""
        for d, toks in self.tokens.items():
            per: dict[str, list[int]] = {}
            for p, t in enumerate(toks):
                per.setdefault(t, []).append(p)
            for t, ps in per.items():
                yield t, d, ps

    @staticmethod
    def terms(words: list[str]) -> list[str]:
        return [t for w in words for t in analyze(w)]

    # -- ranked ------------------------------------------------------------
    def bm25(self, words: list[str]) -> dict[int, float]:
        """docid → BM25 score over every matching live doc."""
        counts = Counter(self.terms(words))
        n, avgdl = self.n_docs, self.avgdl
        scores: dict[int, float] = {}
        for t, qw in counts.items():
            post = self.postings.get(t)
            if not post:
                continue
            df = len(post)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            for d, tf in post.items():
                dl = len(self.tokens[d])
                s = qw * idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
                scores[d] = scores.get(d, 0.0) + s
        return scores

    def tfidf(self, words: list[str]) -> dict[int, float]:
        counts = Counter(self.terms(words))
        n = self.n_docs
        dot: dict[int, float] = {}
        len2: dict[int, float] = {}
        for t, mult in counts.items():
            post = self.postings.get(t)
            if not post:
                continue
            idf = n / len(post)
            q = mult * idf
            for d, tf in post.items():
                w = tf * idf
                dot[d] = dot.get(d, 0.0) + w * q
                len2[d] = len2.get(d, 0.0) + w * w
        return {d: dot[d] / math.sqrt(len2[d]) for d in dot}

    # -- boolean -----------------------------------------------------------
    def _docs(self, term: str) -> set[int]:
        return set(self.postings.get(term, ()))

    def keyword(self, word: str) -> set[int]:
        toks = analyze(word)
        return self._docs(toks[0]) if toks else set()

    def and_(self, words: list[str]) -> set[int]:
        lists = [analyze(w) for w in words]
        if any(not tl for tl in lists):
            return set()
        terms = {t for tl in lists for t in tl}
        out = None
        for t in sorted(terms, key=lambda t: len(self.postings.get(t, ()))):
            out = self._docs(t) if out is None else out & self._docs(t)
            if not out:
                return set()
        return out or set()

    def or_(self, words: list[str]) -> set[int]:
        out: set[int] = set()
        for t in self.terms(words):
            out |= self._docs(t)
        return out

    def phrase(self, words: list[str]) -> set[int]:
        terms = analyze(" ".join(words))
        if not terms:
            return set()
        if len(terms) == 1:
            return self.keyword(terms[0])
        # the analysed terms themselves, not re-analysed: stemming is not
        # idempotent
        cand = set.intersection(*(self._docs(t) for t in set(terms)))
        out = set()
        m = len(terms)
        for d in cand:
            toks = self.tokens[d]
            if any(toks[p : p + m] == terms for p in range(len(toks) - m + 1)):
                out.add(d)
        return out

    def answer(self, op: str, words: list[str]):
        """Reference answer for one query: a score map for ranked ops, a
        docid set for boolean ones."""
        if op == "bm25":
            return self.bm25(words)
        if op == "tfidf":
            return self.tfidf(words)
        if op == "and":
            return self.and_(words)
        if op == "or":
            return self.or_(words)
        if op == "phrase":
            return self.phrase(words)
        if op == "keyword":
            return self.keyword(words[0])
        raise ValueError(f"unknown op {op!r}")

