"""Input sources -> the canonical pages schema.

The reference ingests many formats through its DocIndexer family (YAML-driven
XML/XPath, TSV/CSV, CoNLL-U, CHAT, plain text — indexers/config/DocIndexer*.java,
engine/src/main/resources/formats/; SURVEY.md §2.5). Here every source
normalizes to the ONE canonical input table the engine builds from
(input_hint shape):

    url string, warc_ts timestamp, html binary, text string, lang string

All readers are plain `spark.read` declarations — Catalyst owns pushdown and
split planning; no custom per-row parsing outside the existing tokenizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _normalize(
    df: DataFrame,
    url: str = "url",
    text: str = "text",
    lang: str | None = None,
    html: str | None = None,
    ts: str | None = None,
) -> DataFrame:
    return df.select(
        F.col(url).cast("string").alias("url"),
        (F.col(ts).cast("timestamp") if ts else F.lit(None).cast("timestamp")).alias("warc_ts"),
        (F.col(html).cast("binary") if html else F.lit(None).cast("binary")).alias("html"),
        F.col(text).cast("string").alias("text"),
        (F.col(lang).cast("string") if lang else F.lit("und")).alias("lang"),
    )


def pages_from_parquet(spark: SparkSession, path: str, **cols) -> DataFrame:
    """Parquet already in (or mappable to) the pages shape."""
    return _normalize(spark.read.parquet(path), **cols)


def pages_from_jsonl(spark: SparkSession, path: str, **cols) -> DataFrame:
    """JSON-lines corpus (one doc per line)."""
    return _normalize(spark.read.json(path), **cols)


def pages_from_csv(
    spark: SparkSession, path: str, sep: str = ",", header: bool = True, **cols
) -> DataFrame:
    """CSV/TSV corpus (reference: DocIndexerTabular)."""
    df = spark.read.option("header", str(header).lower()).option("sep", sep).csv(path)
    return _normalize(df, **cols)


def pages_from_text_dir(spark: SparkSession, path, lang: str = "und") -> DataFrame:
    """Directory of plain-text files, one doc per file (reference:
    DocIndexerPlainText): file path becomes the url."""
    df = _wholefile_reader(spark, path)
    return df.select(
        F.col("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("value").alias("text"),
        F.lit(lang).alias("lang"),
    )


ANNOTATED_PAGES_SCHEMA = (
    PAGES_SCHEMA
    + ", tokens array<string>, tokens_lemma array<string>, tokens_pos array<string>"
    + ", sents array<array<int>>"
    + ", relations array<struct<rclass:string,rtype:string,src_start:int,src_end:int,"
    + "tgt_start:int,tgt_end:int>>"
)


def pages_from_conllu(spark: SparkSession, path: str, lang: str = "und") -> DataFrame:
    """CoNLL-U corpora (reference: DocIndexerCoNLLU) -> ANNOTATED pages:
    token/lemma/POS layers, real sentence spans and dependency relations all
    come from the input, exactly the reference's annotated-ingestion model.
    One file may hold many docs (`# newdoc` comment starts a new one);
    multiword-token ranges (1-2) and empty nodes (1.1) are skipped, matching
    the basic-representation token stream."""

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                docs: list[dict] = []

                def new_doc():
                    docs.append(
                        {"toks": [], "lem": [], "pos": [], "sents": [], "rels": []}
                    )

                new_doc()
                sent_start = 0
                sent_rows: list[tuple] = []  # (idx, head, deprel) per sentence

                def close_sentence():
                    nonlocal sent_start, sent_rows
                    d = docs[-1]
                    if len(d["toks"]) > sent_start:
                        d["sents"].append([sent_start, len(d["toks"])])
                        for idx, head, deprel in sent_rows:
                            if head > 0:  # 0 = root (no source token)
                                h = sent_start + head - 1
                                d["rels"].append(
                                    ("dep", deprel, h, h + 1, idx, idx + 1)
                                )
                    sent_start = len(d["toks"])
                    sent_rows = []

                for line in content.splitlines():
                    line = line.strip("\r")
                    if line.startswith("# newdoc"):
                        close_sentence()
                        if docs[-1]["toks"]:
                            new_doc()
                            sent_start = 0
                        continue
                    if not line:
                        close_sentence()
                        continue
                    if line.startswith("#"):
                        continue
                    f = line.split("\t")
                    if len(f) < 8 or "-" in f[0] or "." in f[0]:
                        continue
                    d = docs[-1]
                    idx = len(d["toks"])
                    d["toks"].append(f[1])
                    d["lem"].append(f[2] if f[2] != "_" else f[1])
                    d["pos"].append(f[3] if f[3] != "_" else "X")
                    try:
                        head = int(f[6])
                    except ValueError:
                        head = 0
                    sent_rows.append((idx, head, f[7]))
                close_sentence()
                for i, d in enumerate(docs):
                    if not d["toks"]:
                        continue
                    rows.append(
                        {
                            "url": f"{fname}#doc{i}",
                            "warc_ts": None,
                            "html": None,
                            "text": " ".join(d["toks"]),
                            "lang": lang,
                            "tokens": d["toks"],
                            "tokens_lemma": d["lem"],
                            "tokens_pos": d["pos"],
                            "sents": d["sents"],
                            "relations": d["rels"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "html", "text", "lang", "tokens",
                    "tokens_lemma", "tokens_pos", "sents", "relations",
                ],
            )

    raw = _wholefile_reader(spark, path)
    return raw.mapInPandas(parse, schema=ANNOTATED_PAGES_SCHEMA)


# ------------------------------------------------------------- XML formats --
# The reference's primary ingestion model is XML with per-format config files
# (*.blf.yaml -> ConfigInputFormat/DocIndexerConfig, integrated.md:34-123):
# the config names the tag that delimits documents, which inline tags to
# index, and where doc metadata lives. v1 mirrors the subset our pages data
# model can hold; matching is the same regex-based markup scan the build
# kernel uses (tokenize.tag_spans_one), so config'd tags line up exactly
# with indexed token positions.

DEFAULT_XML_FORMAT = {
    # tag delimiting one document inside a file; None = file per doc
    "documentPath": None,
    # XPath-source only: subtree to tokenize/index (None = whole document)
    "contentPath": None,
    # inline tags to index as spans — pass to build_index(index_tags=...)
    "inlineTags": ("p", "s", "head"),
    # metadata: pages-field -> tag whose first text content supplies it
    # (only fields of the pages shape are representable; others need a
    # schema of their own and are rejected loudly)
    "metadata": {},
}


def load_xml_format(path: str) -> dict:
    """Load a *.blf.yaml-style format config file into the v1 dict shape."""
    import yaml

    with open(path) as f:
        cfg = yaml.safe_load(f) or {}
    return {**DEFAULT_XML_FORMAT, **cfg}


def build_kwargs_from_format(fmt: dict) -> dict:
    """build_index(**kwargs) derived from a format config."""
    return {"index_tags": tuple(fmt.get("inlineTags") or ())}


_TAGNAME_RE = __import__("re").compile(r"^[A-Za-z_][-A-Za-z0-9_.]*$")


def validate_xml_format(fmt: dict, xpath: bool = False) -> dict:
    """Eagerly validate a format config dict (the checks the readers run,
    hoisted so AddFormat over HTTP can 400 at upload time, not first-use).
    Returns the config merged over DEFAULT_XML_FORMAT."""
    fmt = {**DEFAULT_XML_FORMAT, **fmt}
    meta = fmt.get("metadata") or {}
    if not isinstance(meta, dict):
        raise ValueError("metadata must be a mapping")
    bad = set(meta) - {"lang"}
    if bad:
        raise ValueError(
            f"metadata targets {sorted(bad)} not representable in the pages "
            "shape (supported: lang)"
        )
    tags = fmt.get("inlineTags") or ()
    if isinstance(tags, str) or not all(isinstance(t, str) for t in tags):
        raise ValueError("inlineTags must be a list of tag names")
    if not xpath:
        # plain tag NAMES only — XPath-style paths ('//doc', 'TEI/text/body')
        # are not supported by the regex-scan reader and must fail loudly
        for label, t in (
            ("documentPath", fmt.get("documentPath")),
            ("metadata tag", meta.get("lang")),
        ):
            if t is not None and not _TAGNAME_RE.match(t):
                raise ValueError(
                    f"{label} must be a plain tag name, got {t!r} "
                    "(XPath selectors are not supported)"
                )
    return fmt


def pages_from_xml_dir(
    spark: SparkSession, path: str, fmt: dict | None = None, lang: str = "und"
) -> DataFrame:
    """Directory of XML files (reference: DocIndexerConfig over TEI/FoLiA
    style input) -> pages. Each file is split into documents on
    fmt['documentPath'] (whole file when None); the doc's XML rides as
    `html` so the build's markup scan records fmt['inlineTags'] spans at
    the exact indexed token positions. fmt['metadata'] may map 'lang' to a
    tag name; other metadata targets raise (the pages shape has nowhere to
    put them)."""
    import re as _re

    fmt = validate_xml_format(fmt or {})
    doc_tag = fmt.get("documentPath")
    lang_tag = (fmt.get("metadata") or {}).get("lang")
    doc_tag = _re.escape(doc_tag) if doc_tag else None
    lang_tag = _re.escape(lang_tag) if lang_tag else None

    raw = _wholefile_reader(spark, path)

    def parse(batches):
        import pandas as pd

        doc_re = (
            _re.compile(
                rf"(?s)<{doc_tag}(?:\s[^>]*)?>.*?</{doc_tag}\s*>"
            )
            if doc_tag
            else None
        )
        lang_re = (
            _re.compile(rf"(?s)<{lang_tag}(?:\s[^>]*)?>\s*(.*?)\s*</{lang_tag}\s*>")
            if lang_tag
            else None
        )
        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                parts = doc_re.findall(content or "") if doc_re else [content or ""]
                for i, xml in enumerate(parts):
                    url = f"{fname}#{i}" if doc_re else fname
                    m = lang_re.search(xml) if lang_re else None
                    rows.append(
                        {
                            "url": url,
                            "warc_ts": None,
                            "html": xml.encode("utf-8"),
                            "text": None,
                            "lang": m.group(1) if m else lang,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return raw.mapInPandas(parse, schema=PAGES_SCHEMA)


XML_PAGES_SCHEMA = (
    PAGES_SCHEMA
    + ", tokens array<string>, sents array<array<int>>"
    + ", tags array<struct<name:string,start:int,end:int,attrs:map<string,string>>>"
)


def _local_name(qname: str) -> str:
    """'{uri}tag' -> 'tag' (ElementTree's namespace-qualified spelling)."""
    return qname.rsplit("}", 1)[-1]


def pages_from_xml_xpath(
    spark: SparkSession, path: str, fmt: dict | None = None, lang: str = "und"
) -> DataFrame:
    """XPath-config XML ingestion (reference: DocIndexerSaxon,
    engine/.../index/DocIndexerSaxon.java:199-272): files parse with a real
    namespace-aware XML parser instead of pages_from_xml_dir's regex scan,
    so namespaced documents (TEI etc.) work. Documents select by XPath,
    inline tags record spans in TOKEN positions from one document-order
    walk (text nodes tokenize with the pinned tokenizer, so spans line up
    exactly with the indexed token stream), and metadata selects by XPath.

    fmt keys:
    - documentPath: XPath selecting document elements within a file
      (ElementTree subset, e.g. './/tei:TEI'); None = whole file is one doc
    - contentPath: XPath (relative to the document element) selecting the
      subtree whose text is tokenized/indexed — the reference's annotated-
      field containerPath (e.g. './/tei:text', keeping headers out of the
      token stream); None = the whole document element
    - namespaces: {prefix: uri} map the XPaths may reference
    - inlineTags: LOCAL tag names to record as spans (+ attributes); pass
      the same names to build_index(index_tags=...) / use
      build_kwargs_from_format
    - metadata: {'lang': xpath} — first matching element's text

    Output carries tokens/sents/tags columns (annotated-input build path);
    `<s>` elements feed the sents column when present, else one whole-doc
    sentence."""
    fmt = validate_xml_format(fmt or {}, xpath=True)
    doc_path = fmt.get("documentPath")
    content_path = fmt.get("contentPath")
    ns = dict(fmt.get("namespaces") or {})
    inline = tuple(fmt.get("inlineTags") or ())
    lang_path = fmt.get("metadata", {}).get("lang")

    raw = _wholefile_reader(spark, path)

    def parse(batches):
        import re as _re
        import xml.etree.ElementTree as ET

        import pandas as pd

        from .tokenize import TOKEN_RE

        tok_re = _re.compile(TOKEN_RE)
        inline_set = set(inline)

        def walk_doc(doc_el):
            toks: list[str] = []
            tags: list[tuple] = []
            sents: list[list[int]] = []

            def walk(el):
                start = len(toks)
                if el.text:
                    toks.extend(tok_re.findall(el.text))
                for child in el:
                    walk(child)
                    if child.tail:
                        toks.extend(tok_re.findall(child.tail))
                name = _local_name(el.tag)
                if name == "s":
                    sents.append([start, len(toks)])
                if name in inline_set:
                    attrs = {_local_name(k): v for k, v in el.attrib.items()}
                    tags.append((name, start, len(toks), attrs))

            walk(doc_el)
            sents.sort()
            return toks, tags, sents or ([[0, len(toks)]] if toks else [])

        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                root = ET.fromstring(content or "<empty/>")
                doc_els = root.findall(doc_path, ns) if doc_path else []
                if doc_path and not doc_els:
                    # the root itself may be the document element
                    # (findall never matches the element it starts from)
                    probe = ET.Element("probe")
                    probe.append(root)
                    doc_els = probe.findall(doc_path, ns)
                if not doc_path:
                    doc_els = [root]
                for i, el in enumerate(doc_els):
                    body = el.find(content_path, ns) if content_path else el
                    toks, tags, sents = walk_doc(
                        body if body is not None else el
                    )
                    lv = el.findtext(lang_path, namespaces=ns) if lang_path else None
                    rows.append(
                        {
                            "url": f"{fname}#{i}" if doc_path else fname,
                            "warc_ts": None,
                            "html": None,
                            "text": None,
                            "lang": (lv or lang).strip() if (lv or lang) else lang,
                            "tokens": toks,
                            "sents": sents,
                            "tags": tags,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "html", "text", "lang",
                    "tokens", "sents", "tags",
                ],
            )

    return raw.mapInPandas(parse, schema=XML_PAGES_SCHEMA)


ANNOTATED_TAGGED_PAGES_SCHEMA = (
    ANNOTATED_PAGES_SCHEMA
    + ", tags array<struct<name:string,start:int,end:int,attrs:map<string,string>>>"
)


def _wholefile_reader(spark: SparkSession, path) -> DataFrame:
    """Whole files as (url, value) rows. `path` may also be an existing
    (url, value) DataFrame — e.g. the output of a convert-and-tag
    preprocess pipeline (preprocess.py) — which passes through unchanged,
    so every pages_from_*_dir reader composes with preprocessing."""
    if isinstance(path, DataFrame):
        return path
    return (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(path)
        .withColumn("url", F.input_file_name())
    )


def pages_from_eaf_dir(
    spark: SparkSession, path: str, lang: str = "und"
) -> DataFrame:
    """Directory of ELAN .eaf files (reference format config:
    engine/src/main/resources/formats/eaf.blf.yaml): one doc per file.
    Alignable annotations across all tiers order by their start TIME_SLOT
    (stable by tier for ties); each annotation's value tokenizes with the
    pinned tokenizer and becomes one utterance = one sentence span + one
    `<u who=PARTICIPANT tier=TIER_ID/>` tag span, so building with
    index_tags=("u",) gives queryable speaker/tier attributes. Reference
    annotations (no time slots) are skipped (v1)."""

    def parse(batches):
        import re as _re
        import xml.etree.ElementTree as ET

        import pandas as pd

        from .tokenize import TOKEN_RE

        tok_re = _re.compile(TOKEN_RE)
        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                root = ET.fromstring(content or "<ANNOTATION_DOCUMENT/>")
                times = {
                    ts.get("TIME_SLOT_ID"): int(ts.get("TIME_VALUE") or 0)
                    for ts in root.iter("TIME_SLOT")
                }
                utts = []  # (start_ms, tier_order, participant, tier_id, text)
                for ti, tier in enumerate(root.iter("TIER")):
                    part = tier.get("PARTICIPANT") or ""
                    tid = tier.get("TIER_ID") or ""
                    for ann in tier.iter("ALIGNABLE_ANNOTATION"):
                        val = ann.findtext("ANNOTATION_VALUE") or ""
                        t0 = times.get(ann.get("TIME_SLOT_REF1"), 0)
                        utts.append((t0, ti, part, tid, val))
                utts.sort(key=lambda u: (u[0], u[1]))
                toks: list[str] = []
                sents: list[list[int]] = []
                tags: list[tuple] = []
                for _t0, _ti, part, tid, val in utts:
                    ut = tok_re.findall(val)
                    if not ut:
                        continue
                    a = len(toks)
                    toks.extend(ut)
                    sents.append([a, len(toks)])
                    tags.append(("u", a, len(toks), {"who": part, "tier": tid}))
                rows.append(
                    {
                        "url": fname, "warc_ts": None, "html": None,
                        "text": None, "lang": lang, "tokens": toks,
                        "tokens_lemma": None, "tokens_pos": None,
                        "sents": sents, "relations": [], "tags": tags,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "html", "text", "lang", "tokens",
                    "tokens_lemma", "tokens_pos", "sents", "relations", "tags",
                ],
            )

    return _wholefile_reader(spark, path).mapInPandas(
        parse, schema=ANNOTATED_TAGGED_PAGES_SCHEMA
    )


def pages_from_tcf_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory of TCF (WebLicht Text Corpus Format) files (reference
    format config: engine/src/main/resources/formats/tcf.blf.yaml): one doc
    per file. Token stream comes from the <tokens> layer verbatim (TCF is
    pre-tokenized), sentence spans from <sentences> tokenIDs, lemma/POS
    layers from <lemmas>/<POStags> by tokenID, dependency relations from
    <depparsing> (dep func -> rtype, class 'dep'), lang from
    TextCorpus@lang. Namespaces are ignored by matching local names."""

    def parse(batches):
        import xml.etree.ElementTree as ET

        import pandas as pd

        def by_local(root, name):
            return [el for el in root.iter() if _local_name(el.tag) == name]

        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                root = ET.fromstring(content or "<D-Spin/>")
                tc = (by_local(root, "TextCorpus") or [root])[0]
                toks, tok_pos = [], {}
                for el in by_local(tc, "token"):
                    tok_pos[el.get("ID")] = len(toks)
                    toks.append((el.text or "").strip())
                lem = [None] * len(toks)
                for el in by_local(tc, "lemma"):
                    for tid in (el.get("tokenIDs") or "").split():
                        if tid in tok_pos:
                            lem[tok_pos[tid]] = (el.text or "").strip()
                pos = [None] * len(toks)
                for el in by_local(tc, "tag"):
                    if _local_name(el.tag) != "tag":
                        continue
                    for tid in (el.get("tokenIDs") or "").split():
                        if tid in tok_pos:
                            pos[tok_pos[tid]] = (el.text or "").strip()
                sents = []
                for el in by_local(tc, "sentence"):
                    ids = [
                        tok_pos[t]
                        for t in (el.get("tokenIDs") or "").split()
                        if t in tok_pos
                    ]
                    if ids:
                        sents.append([min(ids), max(ids) + 1])
                sents.sort()
                rels = []
                for el in by_local(tc, "dependency"):
                    src = [
                        tok_pos[t]
                        for t in (el.get("govIDs") or "").split()
                        if t in tok_pos
                    ]
                    tgt = [
                        tok_pos[t]
                        for t in (el.get("depIDs") or "").split()
                        if t in tok_pos
                    ]
                    if src and tgt:
                        rels.append(
                            (
                                "dep", el.get("func") or "dep",
                                min(src), max(src) + 1, min(tgt), max(tgt) + 1,
                            )
                        )
                rows.append(
                    {
                        "url": fname, "warc_ts": None, "html": None,
                        "text": None, "lang": tc.get("lang") or "und",
                        "tokens": toks,
                        "tokens_lemma": [
                            v if v is not None else t for v, t in zip(lem, toks)
                        ],
                        "tokens_pos": [v if v is not None else "X" for v in pos],
                        "sents": sents or ([[0, len(toks)]] if toks else []),
                        "relations": rels,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "html", "text", "lang", "tokens",
                    "tokens_lemma", "tokens_pos", "sents", "relations",
                ],
            )

    return _wholefile_reader(spark, path).mapInPandas(
        parse, schema=ANNOTATED_PAGES_SCHEMA
    )


def pages_from_naf_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory of NAF files (reference format config:
    engine/src/main/resources/formats/naf.blf.yaml): one doc per file.
    <wf> word forms in document order supply tokens (their sent attribute
    groups sentence spans), <term> elements supply lemma/pos by wf span
    targets, <dep> elements supply dependency relations (term spans resolve
    to wf positions; rfunc -> rtype, class 'dep'), lang from NAF@xml:lang."""

    def parse(batches):
        import xml.etree.ElementTree as ET

        import pandas as pd

        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                root = ET.fromstring(content or "<NAF/>")
                toks, wf_pos, wf_sent = [], {}, []
                for el in root.iter("wf"):
                    wf_pos[el.get("id")] = len(toks)
                    toks.append((el.text or "").strip())
                    wf_sent.append(el.get("sent") or "")
                lem = [None] * len(toks)
                pos = [None] * len(toks)
                term_span: dict[str, tuple[int, int]] = {}
                for el in root.iter("term"):
                    ids = [
                        wf_pos[t.get("id")]
                        for t in el.iter("target")
                        if t.get("id") in wf_pos
                    ]
                    if not ids:
                        continue
                    term_span[el.get("id")] = (min(ids), max(ids) + 1)
                    for i in ids:
                        lem[i] = el.get("lemma")
                        pos[i] = el.get("pos")
                sents = []
                for i, sid in enumerate(wf_sent):
                    if not sents or sid != wf_sent[i - 1]:
                        sents.append([i, i + 1])
                    else:
                        sents[-1][1] = i + 1
                rels = []
                for el in root.iter("dep"):
                    s = term_span.get(el.get("from"))
                    t = term_span.get(el.get("to"))
                    if s and t:
                        rels.append(
                            ("dep", el.get("rfunc") or "dep", s[0], s[1], t[0], t[1])
                        )
                lang = root.get("{http://www.w3.org/XML/1998/namespace}lang") or "und"
                rows.append(
                    {
                        "url": fname, "warc_ts": None, "html": None,
                        "text": None, "lang": lang, "tokens": toks,
                        "tokens_lemma": [
                            v if v is not None else t for v, t in zip(lem, toks)
                        ],
                        "tokens_pos": [v if v is not None else "X" for v in pos],
                        "sents": sents or ([[0, len(toks)]] if toks else []),
                        "relations": rels,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "html", "text", "lang", "tokens",
                    "tokens_lemma", "tokens_pos", "sents", "relations",
                ],
            )

    return _wholefile_reader(spark, path).mapInPandas(
        parse, schema=ANNOTATED_PAGES_SCHEMA
    )


def pages_from_folia_dir(
    spark: SparkSession, path: str, lang: str = "und"
) -> DataFrame:
    """Directory of FoLiA files (reference format config:
    engine/src/main/resources/formats/folia.blf.yaml; legacy
    DocIndexerFolia): one doc per file. `<w>` elements in document order
    supply tokens — word = folia:t text, lemma = folia:lemma/@class,
    pos = folia:pos/@class (the config's annotation valuePaths);
    `<s>` elements close sentence spans and `<s>`/`<p>`/`<head>` become
    inline-tag spans (config inlineTags .//s, .//p), so building with
    index_tags=("s","p","head") yields queryable spans. Standoff layers
    resolve `wref` ids against the w @xml:id -> position map (the config's
    tokenIdPath): `<entity>` becomes an 'entity' tag span carrying its
    class, `<dependency>` hd/dep wrefs become relations (rclass 'dep',
    rtype = @class). lang comes from native metadata
    `<meta id="language">` when present."""
    NS = "{http://ilk.uvt.nl/folia}"
    XMLID = "{http://www.w3.org/XML/1998/namespace}id"

    def parse(batches):
        import xml.etree.ElementTree as ET

        import pandas as pd

        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                root = ET.fromstring(content or f"<FoLiA xmlns='{NS[1:-1]}'/>")
                if root.tag != f"{NS}FoLiA":
                    found = root.find(f".//{NS}FoLiA")
                    if found is not None:
                        root = found
                toks: list[str] = []
                lem: list[str] = []
                pos: list[str] = []
                id2pos: dict[str, int] = {}
                sents: list[list[int]] = []
                tags: list[tuple] = []

                def walk(el):
                    name = el.tag.rsplit("}", 1)[-1]
                    if name == "w":
                        wid = el.get(XMLID)
                        if wid:
                            id2pos[wid] = len(toks)
                        t = (el.findtext(f"{NS}t") or "").strip()
                        le = el.find(f"{NS}lemma")
                        po = el.find(f"{NS}pos")
                        toks.append(t)
                        lem.append(
                            (le.get("class") if le is not None else None) or t
                        )
                        pos.append(
                            (po.get("class") if po is not None else None) or "X"
                        )
                        return  # morphology etc. inside <w> add no tokens
                    start = len(toks)
                    for child in el:
                        walk(child)
                    if len(toks) > start:
                        if name == "s":
                            sents.append([start, len(toks)])
                            tags.append((name, start, len(toks), {}))
                        elif name in ("p", "head"):
                            tags.append((name, start, len(toks), {}))

                walk(root)

                def wref_span(el):
                    ps = [
                        id2pos[w.get("id")]
                        for w in el.iter(f"{NS}wref")
                        if w.get("id") in id2pos
                    ]
                    return (min(ps), max(ps) + 1) if ps else None

                for ent in root.iter(f"{NS}entity"):
                    span = wref_span(ent)
                    if span:
                        tags.append(
                            ("entity", span[0], span[1],
                             {"class": ent.get("class") or ""})
                        )
                rels = []
                for dep in root.iter(f"{NS}dependency"):
                    hd, dp = dep.find(f"{NS}hd"), dep.find(f"{NS}dep")
                    s = wref_span(hd) if hd is not None else None
                    t = wref_span(dp) if dp is not None else None
                    if s and t:
                        rels.append(
                            ("dep", dep.get("class") or "dep",
                             s[0], s[1], t[0], t[1])
                        )
                lv = None
                for meta in root.iter(f"{NS}meta"):
                    if meta.get("id") == "language":
                        lv = (meta.text or "").strip()
                        break
                rows.append(
                    {
                        "url": fname, "warc_ts": None, "html": None,
                        "text": None, "lang": lv or lang, "tokens": toks,
                        "tokens_lemma": lem, "tokens_pos": pos,
                        "sents": sents or ([[0, len(toks)]] if toks else []),
                        "relations": rels, "tags": tags,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "html", "text", "lang", "tokens",
                    "tokens_lemma", "tokens_pos", "sents", "relations",
                    "tags",
                ],
            )

    return _wholefile_reader(spark, path).mapInPandas(
        parse, schema=ANNOTATED_TAGGED_PAGES_SCHEMA
    )


def pages_from_chat_dir(
    spark: SparkSession, path: str, lang: str = "und"
) -> DataFrame:
    """Directory of CHAT transcripts (CHILDES .cha, reference:
    DocIndexerChat): one doc per file. v1 line handling:
    - `@Languages:` header supplies lang (first code, as-is);
      other `@` headers are skipped
    - `*SPK:` utterance lines (plus tab-indented continuations) become
      `<u who="SPK">…</u>` spans in the emitted html, so building with
      index_tags=("u",) yields real utterance spans with the speaker as a
      queryable tag attribute
    - `%` dependent tiers are skipped
    - CHAT inline codes are minimally cleaned: bracketed `[...]` event/
      error codes, `&=`-prefixed events, and scoping `<`/`>` markers are
      stripped (full CHAT disambiguation ⏭)."""
    raw = _wholefile_reader(spark, path)

    def parse(batches):
        import re as _re

        import pandas as pd

        brackets = _re.compile(r"\[[^\]]*\]|&=\S+")
        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                doc_lang = lang
                utts: list[tuple[str, str]] = []
                cur: tuple[str, list[str]] | None = None

                def close():
                    nonlocal cur
                    if cur is not None:
                        utts.append((cur[0], " ".join(cur[1])))
                        cur = None

                for line in (content or "").splitlines():
                    if line.startswith("@"):
                        close()
                        if line.lower().startswith("@languages:"):
                            codes = line.split(":", 1)[1].strip()
                            if codes:
                                doc_lang = codes.split(",")[0].strip()
                    elif line.startswith("*"):
                        close()
                        spk, _, rest = line[1:].partition(":")
                        # speaker code becomes a tag attribute — keep it to
                        # characters that cannot break the markup
                        spk = _re.sub(r"[^A-Za-z0-9_:-]", "", spk.strip())
                        cur = (spk, [rest.strip()])
                    elif line.startswith(("\t", " ")) and cur is not None:
                        cur[1].append(line.strip())
                    else:
                        close()
                close()
                html = " ".join(
                    f'<u who="{spk}">'
                    + brackets.sub(" ", txt).replace("<", " ").replace(">", " ")
                    + "</u>"
                    for spk, txt in utts
                )
                rows.append(
                    {
                        "url": fname,
                        "warc_ts": None,
                        "html": html.encode("utf-8"),
                        "text": None,
                        "lang": doc_lang,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return raw.mapInPandas(parse, schema=PAGES_SCHEMA)


def pages_from_sketch_wpl(
    spark: SparkSession, path: str, lang: str = "und"
) -> DataFrame:
    """Sketch Engine WPL (word-per-line) corpora (reference format config:
    engine/src/main/resources/formats/sketch-wpl.blf.yaml; legacy
    DocIndexerXmlSketch): tab-separated token lines `word<TAB>pos<TAB>lemma`
    (the config's valuePath 1/2/3), interleaved with inline tag lines.

    - `<doc attr="...">` starts a document (documentPath: doc); its
      attributes ride as a whole-doc `doc` tag span — the queryable
      equivalent of the reference's automatic attribute->metadata indexing
      (a `lang` attribute additionally fills the pages lang column).
    - ALL other inline tags encountered are indexed as tag spans with their
      opening attributes (inlineTags: true); `<s>` spans also populate the
      sentence layer.
    - `<g/>` glue tags (glueTags: true) mark no-space joins for text
      reconstruction; they carry no token and are consumed.
    A file with no `<doc>` element is one document."""
    import re as _re0

    from .tokenize import _ATTR_RE

    tag_re = _re0.compile(r"^<(/?)([A-Za-z_][-A-Za-z0-9_]*)([^>]*?)(/?)>\s*$")
    attr_re = _re0.compile(_ATTR_RE)

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                docs: list[dict] = []
                cur: dict | None = None
                stacks: dict[str, list[tuple[int, dict]]] = {}
                has_doc_tag = "<doc" in (content or "")

                def open_doc(attrs: dict) -> None:
                    nonlocal cur, stacks
                    cur = {
                        "toks": [], "lem": [], "pos": [],
                        "tags": [], "attrs": attrs,
                    }
                    stacks = {}
                    docs.append(cur)

                def close_doc() -> None:
                    nonlocal cur
                    if cur is not None and cur["toks"]:
                        cur["tags"].insert(
                            0, ("doc", 0, len(cur["toks"]), cur["attrs"])
                        )
                    cur = None

                if not has_doc_tag:
                    open_doc({})
                for line in (content or "").splitlines():
                    line = line.rstrip("\r")
                    if not line.strip():
                        continue
                    m = tag_re.match(line.strip())
                    if m:
                        closing, name, rawattrs, selfclose = m.groups()
                        name = name.lower()
                        if name == "g":
                            continue  # glue: no token, no span
                        attrs = {k: v[1:-1] for k, v in attr_re.findall(rawattrs)}
                        if name == "doc":
                            if closing:
                                close_doc()
                            else:
                                close_doc()
                                open_doc(attrs)
                            continue
                        if cur is None:
                            continue
                        if closing:
                            st = stacks.get(name)
                            if st:
                                s, a0 = st.pop()
                                if len(cur["toks"]) > s:
                                    cur["tags"].append(
                                        (name, s, len(cur["toks"]), a0)
                                    )
                        elif not selfclose:
                            stacks.setdefault(name, []).append(
                                (len(cur["toks"]), attrs)
                            )
                        continue
                    if cur is None:
                        continue  # token line outside any <doc>
                    f = line.split("\t")
                    cur["toks"].append(f[0])
                    cur["pos"].append(f[1] if len(f) > 1 and f[1] else "X")
                    cur["lem"].append(f[2] if len(f) > 2 and f[2] else f[0])
                close_doc()
                for i, d in enumerate(docs):
                    if not d["toks"]:
                        continue
                    sents = sorted(
                        [s, e] for (n, s, e, _a) in d["tags"] if n == "s"
                    )
                    rows.append(
                        {
                            "url": f"{fname}#doc{i}" if has_doc_tag else fname,
                            "warc_ts": None, "html": None, "text": None,
                            "lang": d["attrs"].get("lang", lang),
                            "tokens": d["toks"],
                            "tokens_lemma": d["lem"],
                            "tokens_pos": d["pos"],
                            "sents": sents or [[0, len(d["toks"])]],
                            "relations": [],
                            "tags": d["tags"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "html", "text", "lang", "tokens",
                    "tokens_lemma", "tokens_pos", "sents", "relations", "tags",
                ],
            )

    return _wholefile_reader(spark, path).mapInPandas(
        parse, schema=ANNOTATED_TAGGED_PAGES_SCHEMA
    )


def pages_from_tabular_dir(
    spark: SparkSession, path: str, fmt: str = "tsv",
    column_names: bool = True, word="word", lemma="lemma", pos="pos",
    lang: str = "und",
) -> DataFrame:
    """Token-per-line tabular corpora (reference fileType: tabular —
    formats/tsv.blf.yaml: named columns word/lemma/pos; tsv-frog.blf.yaml:
    1-based column indexes 2/3/5, columnNames false; csv.blf.yaml: EXCEL
    dialect with quoting). One annotated document per FILE — the reference
    notes tabular files hold a single annotated field and no metadata.
    word/lemma/pos select columns by header NAME (column_names=True) or
    1-based INDEX (the config's numeric valuePath). Blank lines separate
    sentences.

    Distinct from pages_from_csv, which maps one DOCUMENT per row."""
    if fmt not in ("tsv", "csv"):
        raise ValueError(f"fmt must be tsv|csv, got {fmt!r}")

    def parse(batches):
        import csv as _csv
        import io

        import pandas as pd

        delim = "\t" if fmt == "tsv" else ","
        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                rdr = _csv.reader(
                    io.StringIO(content or ""), delimiter=delim,
                    quotechar='"', escapechar="\\",
                )
                idx = {"word": word, "lemma": lemma, "pos": pos}
                if column_names:
                    try:
                        hdr = next(rdr)
                    except StopIteration:
                        hdr = []
                    pos_of = {h.strip(): i for i, h in enumerate(hdr)}
                    idx = {
                        k: pos_of.get(str(v)) for k, v in idx.items()
                    }
                else:
                    idx = {k: int(v) - 1 for k, v in idx.items()}
                if idx["word"] is None:
                    continue  # header lacks the main annotation column
                toks, lem, ps, sents = [], [], [], []
                sent_start = 0

                def close_sentence():
                    nonlocal sent_start
                    if len(toks) > sent_start:
                        sents.append([sent_start, len(toks)])
                    sent_start = len(toks)

                def cell(f, i, default):
                    return f[i] if i is not None and i < len(f) and f[i] else default

                for f in rdr:
                    if not f or not any(x.strip() for x in f):
                        close_sentence()
                        continue
                    w = cell(f, idx["word"], None)
                    if w is None:
                        continue
                    toks.append(w)
                    lem.append(cell(f, idx["lemma"], w))
                    ps.append(cell(f, idx["pos"], "X"))
                close_sentence()
                if not toks:
                    continue
                rows.append(
                    {
                        "url": fname, "warc_ts": None, "html": None,
                        "text": None, "lang": lang, "tokens": toks,
                        "tokens_lemma": lem, "tokens_pos": ps,
                        "sents": sents, "relations": [],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "html", "text", "lang", "tokens",
                    "tokens_lemma", "tokens_pos", "sents", "relations",
                ],
            )

    return _wholefile_reader(spark, path).mapInPandas(
        parse, schema=ANNOTATED_PAGES_SCHEMA
    )


CMDI_SCHEMA = "url string, fields map<string,string>"


def cmdi_metadata(spark: SparkSession, path: str) -> DataFrame:
    """Directory of CMDI metadata files (reference format config:
    engine/src/main/resources/formats/cmdi.blf.yaml; companion fetcher
    MetadataFetcherSonarCmdi): one row per /CMD/Components document
    (documentPath), `fields` holding every leaf element with text content
    keyed by local name (the config's forEachPath .//*[not(*) and text()]
    with namePath local-name()), namespaces ignored. Repeated leaves
    concatenate with '; ' in document order (the reference's multi-valued
    metadata fields). CMDI is metadata-only (store: false) — join the
    result onto content pages with enrich_pages_with_cmdi."""

    def parse(batches):
        import xml.etree.ElementTree as ET

        import pandas as pd

        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["url"], pdf["value"]):
                try:
                    root = ET.fromstring(content or "<CMD/>")
                except ET.ParseError:
                    continue
                comps = [
                    el for el in root if _local_name(el.tag) == "Components"
                ] or ([root] if _local_name(root.tag) == "Components" else [])
                for i, comp in enumerate(comps):
                    fields: dict[str, str] = {}
                    for el in comp.iter():
                        if len(el) == 0 and el.text and el.text.strip():
                            k = _local_name(el.tag)
                            v = el.text.strip()
                            fields[k] = f"{fields[k]}; {v}" if k in fields else v
                    url = f"{fname}#cmd{i}" if len(comps) > 1 else fname
                    rows.append({"url": url, "fields": fields})
            yield pd.DataFrame(rows, columns=["url", "fields"])

    return _wholefile_reader(spark, path).mapInPandas(parse, schema=CMDI_SCHEMA)


def enrich_pages_with_cmdi(
    pages: DataFrame, cmdi: DataFrame, key: str = "url",
    fields: dict[str, str] | None = None,
) -> DataFrame:
    """Attach CMDI metadata to content pages before indexing — the
    reference's MetadataFetcher role: each content document's CMDI record
    supplies metadata fields. `key` is a column present in BOTH frames
    (prepare it on either side); `fields` maps a pages column to the CMDI
    field name feeding it (v1: only 'lang' is representable in the pages
    shape, same rule as the XML readers). Pages without a CMDI record keep
    their original values (left join + coalesce) — broadcast the metadata
    side when it is dimension-sized."""
    fields = fields or {"lang": "Language"}
    bad = set(fields) - {"lang"}
    if bad:
        raise ValueError(
            f"metadata targets {sorted(bad)} not representable in the pages "
            "shape (supported: lang)"
        )
    sel = [F.col(key).alias("_cmdi_key")] + [
        F.col("fields").getItem(src).alias(f"_cmdi_{dst}")
        for dst, src in fields.items()
    ]
    m = cmdi.select(*sel)
    out = pages.join(m, pages[key] == m["_cmdi_key"], "left").drop("_cmdi_key")
    for dst in fields:
        out = out.withColumn(dst, F.coalesce(f"_cmdi_{dst}", dst)).drop(f"_cmdi_{dst}")
    return out


# ---------------------------------------------------------------------------
# Input-format registry (reference: DocumentFormats + formats/ resource dir,
# served by RequestHandlerListInputFormats / ResultListInputFormats)
# ---------------------------------------------------------------------------

INPUT_FORMATS: dict[str, dict] = {
    "parquet": {
        "displayName": "Parquet pages table",
        "description": "Columnar pages table (url, warc_ts, html, text, lang)",
        "configurationBased": False,
        "reader": pages_from_parquet,
    },
    "jsonl": {
        "displayName": "JSON Lines",
        "description": "One JSON document per line",
        "configurationBased": False,
        "reader": pages_from_jsonl,
    },
    "csv": {
        "displayName": "CSV pages table",
        "description": "Delimited pages table with header",
        "configurationBased": False,
        "reader": pages_from_csv,
    },
    "text": {
        "displayName": "Plain text directory",
        "description": "One document per *.txt file",
        "configurationBased": False,
        "reader": pages_from_text_dir,
    },
    "conllu": {
        "displayName": "CoNLL-U",
        "description": "Tokenized + tagged + dependency relations (reference formats/conll-u.blf.yaml)",
        "configurationBased": False,
        "reader": pages_from_conllu,
    },
    "xml-config": {
        "displayName": "Configured XML",
        "description": "XML via a format-config mapping (reference *.blf.yaml element/attribute config)",
        "configurationBased": True,
        "reader": pages_from_xml_dir,
    },
    "xml-xpath": {
        "displayName": "XPath XML",
        "description": "XML via XPath expressions per annotation (reference DocIndexerXPath)",
        "configurationBased": True,
        "reader": pages_from_xml_xpath,
    },
    "eaf": {
        "displayName": "ELAN",
        "description": "ELAN annotation format (reference formats/eaf.blf.yaml)",
        "configurationBased": False,
        "reader": pages_from_eaf_dir,
    },
    "tcf": {
        "displayName": "TCF",
        "description": "WebLicht Text Corpus Format (reference formats/tcf.blf.yaml)",
        "configurationBased": False,
        "reader": pages_from_tcf_dir,
    },
    "naf": {
        "displayName": "NAF",
        "description": "NLP Annotation Format (reference formats/naf.blf.yaml)",
        "configurationBased": False,
        "reader": pages_from_naf_dir,
    },
    "folia": {
        "displayName": "FoLiA",
        "description": "Format for Linguistic Annotation (reference formats/folia.blf.yaml)",
        "configurationBased": False,
        "reader": pages_from_folia_dir,
    },
    "chat": {
        "displayName": "CHAT",
        "description": "CHILDES CHAT transcripts (reference formats/chat.blf.yaml)",
        "configurationBased": False,
        "reader": pages_from_chat_dir,
    },
    "sketch-wpl": {
        "displayName": "Sketch Engine WPL",
        "description": "Word-per-line vertical format (reference formats/sketch-wpl.blf.yaml)",
        "configurationBased": False,
        "reader": pages_from_sketch_wpl,
    },
    "tsv": {
        "displayName": "Tabular TSV",
        "description": "Token-per-line TSV (reference formats/tsv.blf.yaml)",
        "configurationBased": True,
        "reader": pages_from_tabular_dir,
    },
    "tsv-frog": {
        "displayName": "Frog TSV",
        "description": "Frog tagger token-per-line output (reference formats/tsv-frog.blf.yaml)",
        "configurationBased": True,
        "reader": pages_from_tabular_dir,
    },
    "cmdi": {
        "displayName": "CMDI metadata",
        "description": "Linked CMDI metadata enrichment (reference formats/cmdi.blf.yaml)",
        "configurationBased": False,
        "reader": cmdi_metadata,
    },
    "warc": {
        "displayName": "WARC/WET web archive",
        "description": "Common Crawl-shaped *.warc(.gz) shards: HTTP "
                       "responses (html->text extracted) and WET conversion "
                       "records",
        "configurationBased": False,
        "reader": None,  # set below; warc.py imports from this module
    },
    "iceberg": {
        "displayName": "Iceberg table",
        "description": "Iceberg table of web pages: snapshot-pinned / "
                       "time-traveled / incremental reads (north-rule "
                       "corpus source)",
        "configurationBased": False,
        "reader": None,  # set below; iceberg.py imports from this module
    },
}


def _register_late():
    # late imports: these modules import from sources, so registering at
    # their import time would cycle
    from .iceberg import pages_from_iceberg
    from .warc import pages_from_warc

    INPUT_FORMATS["warc"]["reader"] = pages_from_warc
    INPUT_FORMATS["iceberg"]["reader"] = pages_from_iceberg


_register_late()
