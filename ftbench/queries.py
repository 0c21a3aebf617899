"""Ranked query shapes, their seeded pools, and how each is run and checked."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from blacklab_spark import bcql

from .corpus import STOP0, WORDS, word
from .oracle import Oracle

K = 10
SHAPES = ("head", "tail", "or3", "and2", "lang", "phrase", "bcql")
# loop order: cheap and costly shapes alternate, so a run that stops part
# way through a cycle still samples both kinds
LOOP_ORDER = ("head", "phrase", "tail", "and2", "or3", "bcql", "lang")
POOL_SIZE = 4


@dataclass(frozen=True)
class Query:
    shape: str
    words: tuple[str, ...] = ()
    lang: str | None = None
    regex: str = ""

    @property
    def bcql(self) -> str:
        return f'"{self.regex}" "{self.words[0]}"'

    def plan(self, ix):
        """The engine call that returns the result DataFrame."""
        if self.shape == "and2":
            return ix.topk_and(list(self.words), k=K)
        if self.shape == "phrase":
            return ix.topk_phrase(list(self.words), k=K)
        if self.shape == "bcql":
            return bcql.find_ranked(ix, self.bcql, k=K)
        return ix.topk(list(self.words), k=K, where_lang=self.lang)

    def expect(self, o: Oracle) -> list[tuple]:
        if self.shape == "and2":
            return o.topk(list(self.words), K, conj=True)
        if self.shape == "phrase":
            return o.topk_spans(o.phrase_tf(list(self.words)), K)
        if self.shape == "bcql":
            return o.topk_spans(o.bcql_tf(self.regex, self.words[0]), K)
        return o.topk(list(self.words), K, lang=self.lang)


def pools(o: Oracle, rng: np.random.Generator) -> dict[str, list[Query]]:
    """POOL_SIZE seeded queries per shape, each with at least one result."""
    pairs = np.unique(o.doc_of * len(WORDS) + o.tok)
    df = np.bincount(pairs % len(WORDS), minlength=len(WORDS))[:STOP0]
    by_df = np.argsort(-df, kind="stable")
    head = [word(w) for w in by_df[:20]]
    mid = [word(w) for w in np.flatnonzero((df >= 20) & (df <= 120))]
    tail = [word(w) for w in np.flatnonzero((df >= 3) & (df <= 8))]
    stops = list(WORDS[STOP0 : STOP0 + 20])

    def pick(xs, n=1):
        return [xs[i] for i in rng.choice(len(xs), size=n, replace=False)]

    def draw(make) -> list[Query]:
        out: list[Query] = []
        while len(out) < POOL_SIZE:
            q = make()
            if q not in out and q.expect(o):
                out.append(q)
        return out

    return {
        "head": draw(lambda: Query("head", tuple(pick(head)))),
        "tail": draw(lambda: Query("tail", tuple(pick(tail)))),
        "or3": draw(lambda: Query("or3", (pick(head)[0], pick(mid)[0], pick(tail)[0]))),
        "and2": draw(lambda: Query("and2", tuple(pick(mid, 2)))),
        "lang": draw(
            lambda: Query("lang", tuple(pick(mid)), lang=pick(["de", "nl", "fr", "es"])[0])
        ),
        "phrase": draw(
            lambda: Query(
                "phrase",
                pick([("click", "here"), ("terms", "of", "service"), (pick(head)[0], pick(stops)[0])])[0],
            )
        ),
        "bcql": draw(
            lambda: Query(
                "bcql", (pick(stops)[0],), regex=f"w00{int(rng.integers(0, 5))}{int(rng.integers(0, 10))}[0-9]"
            )
        ),
    }


def fresh_query(marker: str) -> Query:
    """Single-term query for an ingest round's marker word."""
    return Query("fresh", (marker,))
