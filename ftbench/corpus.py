"""Seeded pages for the benchmark, in the `blacklab_spark.fixtures` shape.

Doc `i` of a run is drawn from numpy's generator seeded with `(seed, i)`:
the fixture corpus's Zipf vocabulary, stopword rate, language mix, length
cycle and planted phrases ("click here", "terms of service"), but with the
run's own `--seed` instead of the module constant `fixtures.SEED`.

Every doc is kept twice: as page text, which is all the engine receives, and
as an array of word ids, which is all the oracle scores. The oracle therefore
never runs the engine's tokenizer. Words are lower-case ASCII runs of
letters and digits separated by spaces and full stops, so any tokenizer that
splits on non-alphanumerics and folds case reads exactly these words.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from blacklab_spark import fixtures as fx

WORDS = [str(w) for w in fx.VOCAB] + list(fx.STOPWORDS) + ["click", "here", "terms", "service"]
STOP0 = fx.VOCAB_SIZE
CLICK, HERE, TERMS, SERVICE = range(len(WORDS) - 4, len(WORDS))
OF = STOP0 + fx.STOPWORDS.index("of")
# ingest round r plants the word with id MARKER0 + r; it occurs nowhere else
MARKER0 = len(WORDS)

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


_WORD_ID = {w: i for i, w in enumerate(WORDS)}


def word(wid: int) -> str:
    return WORDS[wid] if wid < MARKER0 else f"fresh{wid - MARKER0:04d}"


def word_id(w: str) -> int:
    return _WORD_ID[w] if w in _WORD_ID else MARKER0 + int(w[len("fresh"):])


def gen_doc(seed: int, i: int, marker: int | None = None) -> tuple[np.ndarray, str]:
    """(word ids, lang) of doc i; `marker` is planted 1-3 times if given."""
    rng = np.random.default_rng([seed, i])
    lang = fx.LANGS[int(np.searchsorted(fx.LANG_CDF, rng.random()))]
    n = 50 + (i % 450)
    ids = np.searchsorted(fx.ZIPF_CDF, rng.random(n)).astype(np.int64)
    np.minimum(ids, fx.VOCAB_SIZE - 1, out=ids)
    stop = rng.random(n) < fx.STOP_P
    n_stop = int(stop.sum())
    if n_stop:
        ids[stop] = STOP0 + rng.integers(0, len(fx.STOPWORDS), n_stop)
    if i % 50 == 17:
        p = int(rng.integers(0, n - 2))
        ids[p : p + 2] = (CLICK, HERE)
    if i % 200 == 11:
        p = int(rng.integers(0, n - 3))
        ids[p : p + 3] = (TERMS, OF, SERVICE)
    if marker is not None:
        ids[rng.choice(n, size=1 + int(rng.integers(0, 3)), replace=False)] = marker
    return ids, lang


def _text(ids: np.ndarray) -> str:
    words = [word(int(t)) for t in ids]
    for j in range(10, len(words) - 1, 11):  # a sentence every 11 words
        words[j] += "."
    return " ".join(words) + "."


class Pages:
    """One batch of seeded pages: docs `nums` of the run's seed."""

    def __init__(self, seed: int, nums: range, marker: int | None = None):
        self.nums = list(nums)
        self.tokens: list[np.ndarray] = []
        self.langs: list[str] = []
        self.texts: list[str] = []
        self.urls: list[str] = []
        for i in self.nums:
            ids, lang = gen_doc(seed, i, marker)
            self.tokens.append(ids)
            self.langs.append(lang)
            self.texts.append(_text(ids))
            self.urls.append(f"https://site{i % 97}.example/{lang}/page/{i}")

    def __len__(self) -> int:
        return len(self.nums)

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)

    def frame(self) -> pd.DataFrame:
        """The pages rows the engine ingests."""
        return pd.DataFrame(
            {
                "url": self.urls,
                "warc_ts": [fx.EPOCH + dt.timedelta(seconds=i) for i in self.nums],
                "html": [
                    f"<html><head><title>t{i}</title></head><body><p>{t}</p></body></html>".encode()
                    for i, t in zip(self.nums, self.texts)
                ],
                "text": self.texts,
                "lang": self.langs,
            }
        )
