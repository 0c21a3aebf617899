"""Text extraction + tokenization + case/accent folding.

One implementation, shared verbatim by the Spark Arrow UDF path (pandas Series
in/out, vectorized — no per-row Python) and the pure-Python oracle — which is
how the "byte-identical extracted text per url" invariant is pinned.

Mirrors the reference's analysis semantics, not its code:
- tokenizer: Unicode word tokenizer (reference: BLStandardAnalyzer,
  engine/.../analysis/BLStandardAnalyzer.java:11-20)
- fold (insensitive variant): lowercase + NFD accent strip (reference:
  MatchSensitivity.desensitize, engine/.../search/indexmetadata/
  MatchSensitivity.java:82-95 + analysis/RemoveAllAccentsFilter.java)

TOKENIZER_VERSION is bumped on any behavior change; it is stored in the index
meta so an index and a query engine can refuse to mix versions.
"""

from __future__ import annotations

import pandas as pd

TOKENIZER_VERSION = "1.1.0"

# word = runs of unicode letters/digits (Java \w is ascii; we pin an explicit
# class close to the reference's standard analyzer behavior)
TOKEN_RE = r"[0-9A-Za-zÀ-ɏͰ-ϿЀ-ӿ]+"

_TAG_SCRIPT = r"(?is)<(script|style)[^>]*>.*?</\1>"
_TAG_COMMENT = r"(?s)<!--.*?-->"
_TAG_ANY = r"(?s)<[^>]+>"
_WS = r"\s+"


def extract_text_series(html: pd.Series, text: pd.Series) -> pd.Series:
    """Per-row extracted text: `text` when present, else stripped `html`.

    Vectorized pandas .str pipeline (Arrow-batched under a pandas UDF).
    """
    h = html.map(lambda b: b.decode("utf-8", "replace") if isinstance(b, (bytes, bytearray)) else (b or ""))
    stripped = (
        h.str.replace(_TAG_SCRIPT, " ", regex=True)
        .str.replace(_TAG_COMMENT, " ", regex=True)
        .str.replace(_TAG_ANY, " ", regex=True)
        .str.replace(_WS, " ", regex=True)
        .str.strip()
    )
    out = text.copy()
    missing = text.isna()
    out[missing] = stripped[missing]
    return out.fillna("")


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Series[str] -> Series[list[str]] of surface tokens (case preserved)."""
    return texts.fillna("").str.findall(TOKEN_RE)


_COMB_RE = f"{TOKEN_RE}|[.!?]"


def sentence_spans_series(texts: pd.Series) -> pd.Series:
    """Series[str] -> Series[list[[start,end]]] sentence spans in TOKEN
    positions (the reference's inline <s> tags, integrated.md:34-123; here
    derived from punctuation since web text carries no markup tags).

    A sentence ends after the last token preceding a '.', '!' or '?'.
    Zero-token sentences are dropped; a doc with no sentence punctuation is
    one span covering all tokens. Single vectorized pass: one combined
    token-or-punct findall per doc, punct classification on factorized
    uniques only."""
    import numpy as np

    comb = texts.fillna("").str.findall(_COMB_RE)
    lens = comb.map(len).to_numpy(dtype=np.int64)
    n = len(comb)
    if n == 0 or lens.sum() == 0:
        return comb.map(lambda _: [])
    flat = np.concatenate([np.asarray(x, dtype=object) for x in comb])
    codes, uniq = pd.factorize(flat)
    ispunct_u = np.array([u in ".!?" for u in uniq], dtype=bool)
    ispunct = ispunct_u[codes]
    istok = ~ispunct
    gtok = np.cumsum(istok)  # 1-based running token count
    bounds = np.concatenate(([0], np.cumsum(lens)))
    out = []
    for d in range(n):
        a, b = int(bounds[d]), int(bounds[d + 1])
        if a == b:
            out.append([])
            continue
        base = int(gtok[a]) - int(istok[a])  # tokens before this doc
        tok_at = gtok[a:b] - base  # running token count within doc
        p = np.flatnonzero(ispunct[a:b])
        total_t = int(tok_at[-1])
        if total_t == 0:
            out.append([])
            continue
        ends = tok_at[p] if len(p) else np.empty(0, dtype=np.int64)
        if len(ends) == 0 or ends[-1] != total_t:
            ends = np.append(ends, total_t)
        spans, prev = [], 0
        for e in np.unique(ends):
            e = int(e)
            if e > prev:
                spans.append([prev, e])
                prev = e
        out.append(spans)
    return pd.Series(out, index=texts.index)


def fold_series(texts: pd.Series) -> pd.Series:
    """Case/accent fold: lower + NFD + strip combining marks."""
    return (
        texts.fillna("")
        .str.lower()
        .str.normalize("NFD")
        .str.replace(r"[̀-ͯ]", "", regex=True)
    )


# ---------------------------------------------------------------- tag spans --
# Real inline-tag spans from markup (reference: arbitrary tags indexed into
# the _relation annotation with source/target payloads, integrated.md:34-123;
# which tags get indexed is per-format configuration, *.blf.yaml). Spans are
# recorded in TOKEN positions consistent with tokenize(extract_text(html)):
# one combined scan consumes comments/tags/tokens in document order, so the
# token counter advances exactly like TOKEN_RE over the stripped text.

DEFAULT_TAGS = ("title", "p", "h1", "h2", "li")
_COMB_TAGTOK = None


def _comb_tagtok():
    global _COMB_TAGTOK
    if _COMB_TAGTOK is None:
        import re

        _COMB_TAGTOK = re.compile(
            r"(?s)(?P<comment><!--.*?-->)|(?P<tag></?[A-Za-z][^>]*>)|(?P<tok>" + TOKEN_RE + r")"
        )
    return _COMB_TAGTOK


_ATTR_RE = r"""([A-Za-z_][-A-Za-z0-9_:]*)\s*=\s*("[^"]*"|'[^']*')"""


def tag_spans_one(html_str: str, tags=DEFAULT_TAGS) -> list[tuple[str, int, int, dict]]:
    """(name, token_start, token_end, attrs) spans for tracked tags in one doc.
    Scripts/styles are stripped first (their content is not tokenized by
    extract_text either); unknown tags are consumed without emitting spans;
    nesting per tag name via a stack; unclosed tags are dropped. Attributes of
    the OPENING tag are recorded (reference: tag attributes are indexed
    alongside the span and filterable in queries, cql.jj:381-391)."""
    import re

    h = re.sub(_TAG_SCRIPT, " ", html_str or "")
    tracked = set(tags)
    stacks: dict[str, list[tuple[int, dict]]] = {}
    out: list[tuple[str, int, int, dict]] = []
    tokc = 0
    for m in _comb_tagtok().finditer(h):
        if m.group("tok") is not None:
            tokc += 1
        elif m.group("tag") is not None:
            t = m.group("tag")
            closing = t.startswith("</")
            name = re.match(r"</?\s*([A-Za-z][A-Za-z0-9]*)", t)
            if not name:
                continue
            nm = name.group(1).lower()
            if nm not in tracked:
                continue
            if closing:
                st = stacks.get(nm)
                if st:
                    s, attrs = st.pop()
                    if tokc > s:
                        out.append((nm, s, tokc, attrs))
            elif not t.endswith("/>"):
                attrs = {k: v[1:-1] for k, v in re.findall(_ATTR_RE, t)}
                stacks.setdefault(nm, []).append((tokc, attrs))
    return out


def token_offsets_series(texts: pd.Series) -> pd.Series:
    """Per-doc char start offset of every token (the token->char map the
    reference keeps implicitly in its content store; enables char-exact
    concordances, results/Concordances.java)."""
    import re

    rx = re.compile(TOKEN_RE)
    return texts.fillna("").map(lambda t: [m.start() for m in rx.finditer(t)])


# --------------------------------------------------------------- annotations --
# Derived annotation layers (reference: per-token parallel annotations, one
# Lucene field per layer — AnnotatedFieldWriter.java:20-44; its test corpus
# carries lemma/pos per token, TestIndex.java:111-141). The reference INGESTS
# annotations from annotated input; web pages carry none, so this pins a
# deterministic rule-based tagger as the stand-in (a real deployment would
# swap in an upstream tagger producing tokens_lemma/tokens_pos input columns).
# Rules are intentionally SQL-expressible so the DuckDB oracle can mirror
# them exactly; both operate on the FOLDED token. Bump ANNOT_VERSION on any
# rule change.

ANNOT_VERSION = "1.0.0"
ANNOT_STOPLIST = frozenset(["a", "the", "of", "and", "to", "in", "is"])


def lemma_fold(t: str) -> str:
    """Pinned mini-stemmer over a folded token (first matching rule only)."""
    if len(t) > 3 and t.endswith("s") and not t.endswith("ss"):
        return t[:-1]
    if len(t) > 5 and t.endswith("ing"):
        return t[:-3]
    if len(t) > 4 and t.endswith("er"):
        return t[:-2]
    return t


def pos_fold(t: str) -> str:
    """Pinned POS classes over a folded token: stop | num | vb | nn."""
    if t in ANNOT_STOPLIST:
        return "stop"
    if t.isdigit():
        return "num"
    if len(t) > 5 and t.endswith("ing"):
        return "vb"
    return "nn"


def lemma_array(folded):
    """Vectorized lemma over a numpy object array of folded tokens."""
    import numpy as np

    return np.array([lemma_fold(t) for t in folded], dtype=object)


def pos_array(folded):
    import numpy as np

    return np.array([pos_fold(t) for t in folded], dtype=object)


def fold_token(tok: str) -> str:
    """Scalar fold — same transform as fold_series (oracle-side convenience)."""
    import unicodedata

    return "".join(
        c for c in unicodedata.normalize("NFD", tok.lower()) if not unicodedata.combining(c)
    )


def case_fold_token(tok: str) -> str:
    """CASE_INSENSITIVE desensitize: lowercase only, diacritics kept
    (reference MatchSensitivity.java:82-95, CASE_INSENSITIVE branch)."""
    return tok.lower()


def accent_fold_token(tok: str) -> str:
    """DIACRITICS_INSENSITIVE desensitize: NFD accent strip, case kept
    (reference MatchSensitivity.java:82-95, DIACRITICS_INSENSITIVE branch)."""
    import unicodedata

    return "".join(
        c for c in unicodedata.normalize("NFD", tok) if not unicodedata.combining(c)
    )


_DI_TRANSLATE: tuple[str, str] | None = None


def di_translate_args() -> tuple[str, str]:
    """(matching, replace) args for Spark's `translate()` reproducing
    accent_fold_token JVM-side over dictionary terms: every BMP codepoint in
    the tokenizer-reachable letter ranges whose NFD accent-strip is one
    DIFFERENT char maps to it; combining marks themselves (possible in
    annotated input tokens) are appended past the end of `replace`, which
    translate() DELETES. Exact parity with the Python fold for all tokens
    whose NFD decomposition is base+combining-marks (true of every accented
    letter in these ranges); multi-char decompositions (none in practice)
    would be the only divergence, so di regex matching needs no dict column
    and no format bump."""
    global _DI_TRANSLATE
    if _DI_TRANSLATE is None:
        import unicodedata

        src, dst, deleted = [], [], []
        ranges = [
            (0x00C0, 0x024F),  # Latin-1 Supplement + Extended-A/B
            (0x0370, 0x03FF),  # Greek
            (0x0400, 0x04FF),  # Cyrillic
            (0x1E00, 0x1FFF),  # Latin Extended Additional + Greek Extended
        ]
        for lo, hi in ranges:
            for cp in range(lo, hi + 1):
                ch = chr(cp)
                folded = accent_fold_token(ch)
                if folded != ch and len(folded) == 1:
                    src.append(ch)
                    dst.append(folded)
                elif len(folded) == 0:
                    # combining marks INSIDE the scanned ranges (e.g.
                    # Cyrillic U+0483-U+0487) fold to '' — delete them too,
                    # or translate() diverges from accent_fold_token
                    deleted.append(ch)
        for cp in range(0x0300, 0x0370):
            if unicodedata.combining(chr(cp)):
                deleted.append(chr(cp))
        _DI_TRANSLATE = ("".join(src) + "".join(deleted), "".join(dst))
    return _DI_TRANSLATE


def extract_text_one(html: bytes | None, text: str | None) -> str:
    """Scalar extraction for the oracle — routed through the Series impl so the
    two paths cannot diverge."""
    return extract_text_series(pd.Series([html]), pd.Series([text]))[0]


def tokenize_one(text: str) -> list[str]:
    return tokenize_series(pd.Series([text]))[0]
