"""Independent BM25 oracle and the result gate.

The oracle scores the benchmark's own word-id arrays (corpus.py) with numpy:
no engine code runs except `query.quantize_dl`, the Lucene byte-norm doc
length the engine's term scoring uses, and the k1/b constants. It assigns
doc ids the way the engine documents them: dense by url within each built
segment, each segment after all earlier ones.

Two scoring rules, as the engine applies them:
- term queries (`topk`, `topk_and`, `where_lang`): per term
  idf * tf / (tf + k1 * (1 - b + b * qdl / avgdl)) * (k1 + 1), with qdl the
  quantized doc length, summed over terms in sorted-term order;
- span queries (`topk_phrase`, `bcql.find_ranked`): the whole pattern is one
  term, tf = hits in the doc, df = docs with a hit, exact doc length.
Ranking is score descending, then doc id ascending.
"""

from __future__ import annotations

import re

import numpy as np

from blacklab_spark import B, K1
from blacklab_spark.query import quantize_dl

from .corpus import WORDS, Pages, word_id

# scores must agree to this relative error (engine and oracle do the same
# float operations in the same order; Spark's log may differ in the last ulp)
SCORE_RTOL = 1e-9


class Oracle:
    def __init__(self) -> None:
        self.urls: list[str] = []
        self.langs: list[str] = []
        self._lens: list[int] = []
        self._toks: list[np.ndarray] = []
        self.tok = np.empty(0, np.int64)  # every token, in doc-id order
        self.doc_of = np.empty(0, np.int64)  # doc id of each token
        self.dl = np.empty(0, np.int64)
        self.segments: dict[str, tuple[int, ...]] = {}  # name -> doc ids

    @property
    def n_docs(self) -> int:
        return len(self.urls)

    def add(self, pages: Pages) -> range:
        """Append one built segment's docs; returns their doc ids."""
        first = self.n_docs
        for j in sorted(range(len(pages)), key=lambda j: pages.urls[j]):
            self.urls.append(pages.urls[j])
            self.langs.append(pages.langs[j])
            self._lens.append(len(pages.tokens[j]))
            self._toks.append(pages.tokens[j])
        self.tok = np.concatenate(self._toks)
        self.doc_of = np.repeat(np.arange(self.n_docs), self._lens)
        self.dl = np.asarray(self._lens, np.int64)
        return range(first, self.n_docs)

    # ------------------------------------------------------------ builds --
    def register(self, segment: str, docs) -> None:
        self.segments[segment] = tuple(docs)

    def merge(self, segment: str, members: list[str]) -> None:
        docs = sorted(d for m in members for d in self.segments.pop(m))
        self.segments[segment] = tuple(docs)

    def segment_counts(self, segment: str) -> tuple[int, int]:
        """(n_docs, n_terms) a build of this segment must report."""
        docs = self.segments[segment]
        toks = np.concatenate([self._toks[d] for d in docs])
        return len(docs), len(np.unique(toks))

    # ----------------------------------------------------------- scoring --
    def _tf(self, wid: int) -> np.ndarray:
        return np.bincount(self.doc_of[self.tok == wid], minlength=self.n_docs)

    def topk(self, words: list[str], k: int, lang: str | None = None, conj: bool = False):
        n = self.n_docs
        avgdl = int(self.dl.sum()) / n
        qdl = quantize_dl(self.dl).astype(np.float64)
        score = np.zeros(n)
        hits = np.zeros(n, np.int64)
        for w in sorted(set(words)):
            tf = self._tf(word_id(w))
            m = tf > 0
            d = int(m.sum())
            if d == 0:
                continue
            idf = float(np.log(1.0 + (n - d + 0.5) / (d + 0.5)))
            t = tf[m].astype(np.float64)
            score[m] += idf * (t / (t + K1 * (1 - B + B * qdl[m] / avgdl))) * (K1 + 1)
            hits[m] += 1
        keep = hits == len(set(words)) if conj else hits > 0
        if lang is not None:
            keep &= np.asarray(self.langs) == lang
        return self._head(np.flatnonzero(keep), score, k)

    def topk_spans(self, tf: np.ndarray, k: int):
        n = self.n_docs
        avgdl = float(int(self.dl.sum()) / n)
        m = tf > 0
        df = float(m.sum())
        idf = np.log(1.0 + (float(n) - df + 0.5) / (df + 0.5))
        t = tf[m].astype(np.float64)
        dl = self.dl[m].astype(np.float64)
        score = np.zeros(n)
        score[m] = idf * (t / (t + K1 * (1 - B + B * dl / avgdl))) * (K1 + 1)
        return self._head(np.flatnonzero(m), score, k)

    def seq_tf(self, slots: list[set[int]]) -> np.ndarray:
        """Hits per doc of consecutive tokens matching slots[0], slots[1], ..."""
        L = len(slots)
        span = len(self.tok) - L + 1
        if span <= 0:
            return np.zeros(self.n_docs, np.int64)
        m = self.doc_of[:span] == self.doc_of[L - 1 :]
        for j, s in enumerate(slots):
            m &= np.isin(self.tok[j : j + span], list(s))
        return np.bincount(self.doc_of[:span][m], minlength=self.n_docs)

    def phrase_tf(self, words: list[str]) -> np.ndarray:
        return self.seq_tf([{word_id(w)} for w in words])

    def bcql_tf(self, regex: str, follower: str) -> np.ndarray:
        rx = re.compile(regex)
        return self.seq_tf(
            [{i for i, w in enumerate(WORDS) if rx.fullmatch(w)}, {word_id(follower)}]
        )

    def _head(self, docs: np.ndarray, score: np.ndarray, k: int):
        s = score[docs]
        order = np.lexsort((docs, -s))[:k]
        return [(int(docs[o]), self.urls[docs[o]], float(s[o])) for o in order]


def check_ranked(rows: list[tuple], expected: list[tuple]) -> str | None:
    """None when engine rows (rank, doc_id, url, score) are rank- and
    score-identical to the oracle's (doc_id, url, score) list, else why not."""
    if len(rows) != len(expected):
        return f"{len(rows)} rows, oracle has {len(expected)}"
    for i, (row, (doc, url, score)) in enumerate(zip(sorted(rows), expected)):
        rank, got_doc, got_url, got_score = row
        if rank != i + 1:
            return f"rank {rank} at position {i + 1}"
        if (got_doc, got_url) != (doc, url):
            return f"rank {rank}: doc {got_doc} {got_url}, oracle doc {doc} {url}"
        if abs(got_score - score) > SCORE_RTOL * max(1.0, abs(score)):
            return f"rank {rank}: score {got_score!r}, oracle {score!r}"
    return None


def check_counts(meta: dict, expected: tuple[int, int]) -> str | None:
    got = (int(meta["n_docs"]), int(meta["n_terms"]))
    if got != expected:
        return f"{meta.get('segment')}: (n_docs, n_terms) {got}, oracle {expected}"
    return None
