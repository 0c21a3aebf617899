"""Deterministic synthetic `pages` corpora (FIXTURES.md §1).

Three tiers, exact input_hint shape
(url string, warc_ts timestamp, html binary, text string, lang string):

- tier A `pages_tiny`  : 6 hand-written docs (operator goldens; modeled on the
  reference's unit-test corpus, core/.../testutil/TestIndex.java:111-141)
- tier B `pages_small` : 2,000 seeded docs (oracle + golden top-k)
- tier C `pages_bench` : 200,000 seeded docs (bench only)

Determinism is PER DOCUMENT: doc i is generated from rng([SEED, i]) so the
corpus can be produced distributed (mapInPandas over an id range) with results
independent of partitioning — the property a 10^12-doc generator needs.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

SEED = 42
VOCAB_SIZE = 5000
ZIPF_S = 1.07
STOPWORDS = [
    "the", "of", "and", "a", "to", "in", "is", "you", "that", "it",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "at",
]
STOP_P = 0.35
LANGS = ["en", "de", "nl", "fr", "es"]
LANG_W = np.array([50, 20, 15, 10, 5], dtype=np.float64)
LANG_CDF = np.cumsum(LANG_W / LANG_W.sum())
ACCENT_DOCS = frozenset(13 + 7 * j for j in range(30))
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_zipf_w = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), ZIPF_S)
ZIPF_CDF = np.cumsum(_zipf_w / _zipf_w.sum())
VOCAB = np.array([f"w{i:05d}" for i in range(VOCAB_SIZE)])
STOP_ARR = np.array(STOPWORDS)

TINY_TEXTS = [
    "The quick brown fox jumps over the lazy dog.",
    "noot mier aap mier mier mier noot noot aap aap aap aap",
    "The quick brown fox and the quick blue hare.",
    "May the wind always be at your back.",
    "",
    "aap aap aap aap aap aap aap aap aap aap aap aap aap aap aap aap",
]


def _wrap_html(i: int, text: str) -> bytes:
    return (
        f"<html><head><title>t{i}</title></head><body><p>{text}</p></body></html>"
    ).encode("utf-8")


def _gen_text(i: int) -> tuple[str, str]:
    """(text, lang) for seeded doc i — the single source of truth."""
    rng = np.random.default_rng([SEED, i])
    lang = LANGS[int(np.searchsorted(LANG_CDF, rng.random()))]
    n = 50 + (i % 450)
    ranks = np.searchsorted(ZIPF_CDF, rng.random(n))
    toks = VOCAB[ranks].copy()
    stop_mask = rng.random(n) < STOP_P
    n_stop = int(stop_mask.sum())
    if n_stop:
        toks[stop_mask] = STOP_ARR[rng.integers(0, len(STOPWORDS), n_stop)]
    toks = toks.tolist()
    if i % 50 == 17 and n >= 4:  # 2%: known-phrase target
        p = int(rng.integers(0, n - 2))
        toks[p], toks[p + 1] = "click", "here"
    if i % 200 == 11 and n >= 6:  # 0.5%: trigram target
        p = int(rng.integers(0, n - 3))
        toks[p], toks[p + 1], toks[p + 2] = "terms", "of", "service"
    if i in ACCENT_DOCS and n >= 9:
        for probe, off in (("Café", 3), ("CAFÉ", 5), ("cafe", 7)):
            toks[int(rng.integers(0, n - 9)) + off] = probe
    # light sentence structure so the tokenizer sees punctuation
    parts = []
    for j, t in enumerate(toks):
        parts.append(t)
        parts.append(". " if (j % 11 == 10 and j < n - 1) else " ")
    return "".join(parts).strip() + ".", lang


def gen_pages_pdf(ids: np.ndarray, tier: str) -> pd.DataFrame:
    """Generate pages rows for the given doc ids (any subset, any order)."""
    rows = []
    for i in ids:
        i = int(i)
        if tier == "tiny":
            text, lang = TINY_TEXTS[i], "en"
            null_text = False
        else:
            text, lang = _gen_text(i)
            null_text = i % 100 == 37
        url = f"https://site{i % 97}.example/{lang}/page/{i}"
        rows.append(
            {
                "url": url,
                "warc_ts": EPOCH + dt.timedelta(seconds=i),
                "html": _wrap_html(i, text),
                "text": None if null_text else text,
                "lang": lang,
            }
        )
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


TIER_N = {"tiny": 6, "small": 2000, "bench": 200_000}

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_df(spark, tier: str, n: int | None = None):
    """Distributed generation: spark.range over ids -> mapInPandas(gen)."""
    n = n or TIER_N[tier]
    ids = spark.range(0, n, 1, numPartitions=max(1, min(64, n // 250 or 1)))

    def gen(batches):
        for pdf in batches:
            yield gen_pages_pdf(pdf["id"].values, tier)

    return ids.mapInPandas(gen, schema=PAGES_SCHEMA)


def pages_pdf(tier: str, n: int | None = None) -> pd.DataFrame:
    """Local (oracle-side) generation — same per-doc function, so identical."""
    n = n or TIER_N[tier]
    return gen_pages_pdf(np.arange(n), tier)
