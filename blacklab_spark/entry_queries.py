"""Driver-facing queries + DuckDB oracle SQL (the per-round correctness gate).

Four families over the driver's `documents` and `events` tables:
- ix_*  : routed through the real inverted-index engine (build.py/query.py);
          documents are adapted to the pages input shape and indexed once per
          sf_dir (cached on disk under /tmp).
- rs_*  : the results pipeline (results.py) over engine hits: grouping,
          sorting, windows, collocations.
- ft_*  : the declarative forward-index fast path (pure DataFrame ops over
          tokenized arrays — the analog of the reference's
          HitGroupsTokenFrequencies fast path).
- src_* : the engine's input readers (sources.py, iceberg.py): WARC/WET
          records and Iceberg tables, plain and partition-filtered.

Tokenization here is pinned to: non-empty pieces of lower(text) split on
[^a-z0-9]+, positions counted over non-empty tokens — expressible identically
in Spark and DuckDB (the documents corpus is ASCII, so this equals the
engine's unicode tokenizer + fold on this data).

Float policy: every float column is round(x, 6) on both sides, and every
ranking orders by the ROUNDED value with a deterministic id tiebreak.
"""

from __future__ import annotations

import ast
import glob
import hashlib
import inspect
import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB)
# ---------------------------------------------------------------------------
SQL_TOKS = """
raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS arr FROM documents
), tok0 AS (
  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS i FROM raw
), toks AS (
  SELECT doc_id, tok, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT) AS pos
  FROM tok0 WHERE tok <> ''
)"""

SQL_DL = """
dl AS (
  SELECT d.doc_id, CAST(coalesce(t.c, 0) AS DOUBLE) AS dl
  FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS c FROM toks GROUP BY doc_id) t USING (doc_id)
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl
)"""

SQL_LEMMA = """CASE
  WHEN length(tok)>3 AND tok LIKE '%s' AND tok NOT LIKE '%ss' THEN substr(tok,1,length(tok)-1)
  WHEN length(tok)>5 AND tok LIKE '%ing' THEN substr(tok,1,length(tok)-3)
  WHEN length(tok)>4 AND tok LIKE '%er' THEN substr(tok,1,length(tok)-2)
  ELSE tok END"""

SQL_POS = """CASE
  WHEN tok IN ('a','the','of','and','to','in','is') THEN 'stop'
  WHEN regexp_matches(tok, '^[0-9]+$') THEN 'num'
  WHEN length(tok)>5 AND tok LIKE '%ing' THEN 'vb'
  ELSE 'nn' END"""


def _sql_topk(terms: list[str], k: int, where: str | None = None) -> str:
    vals = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    flt = f"AND doc_id IN (SELECT doc_id FROM documents WHERE {where})" if where else ""
    return f"""
WITH {SQL_TOKS}, {SQL_DL},
q(term) AS (VALUES {vals}),
tf AS (
  SELECT t.doc_id, q.term, CAST(count(*) AS DOUBLE) AS tf
  FROM toks t JOIN q ON t.tok = q.term
  WHERE 1=1 {flt}
  GROUP BY 1, 2
),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM (SELECT DISTINCT doc_id, term FROM (
  SELECT t.doc_id, q.term FROM toks t JOIN q ON t.tok = q.term)) GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         sum( ln(1 + ((SELECT n FROM stats) - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (SELECT avgdl FROM stats))))
              * (1.2 + 1.0) ) AS score
  FROM tf JOIN dfreq USING (term) JOIN dl ON dl.doc_id = tf.doc_id
  GROUP BY 1
)
SELECT rank, doc_id, score FROM (
  SELECT CAST(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS INT) AS rank,
         doc_id, round(score, 6) AS score
  FROM sc
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Spark helpers
# ---------------------------------------------------------------------------
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, pos) — identical semantics to SQL_TOKS."""
    d = _docs(spark, sf_dir)
    arr = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != "")
    return d.select("doc_id", F.posexplode(arr).alias("pos", "tok")).select(
        "doc_id", "tok", F.col("pos").cast("int").alias("pos")
    )


# ---------------------------------------------------------------------------
# engine-backed index (cached per sf_dir)
# ---------------------------------------------------------------------------
_IX_CACHE: dict[str, object] = {}


def plain_pages(docs: DataFrame) -> DataFrame:
    """documents -> pages (doc:// urls keep doc_id recoverable as the dense
    rank; the engine metadata-filter field carries the documents `source`)."""
    return docs.select(
        F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.col("source").alias("lang"),
    )


def dated_pages(docs: DataFrame) -> DataFrame:
    """plain_pages with a deterministic per-doc timestamp: year 1970 +
    doc_id % 60 (drives the decade grouping key; oracle mirrors the
    arithmetic)."""
    return docs.select(
        F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
        F.make_date(
            (F.lit(1970) + F.col("doc_id") % 60).cast("int"), F.lit(1), F.lit(1)
        ).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.col("source").alias("lang"),
    )


def _imported_sources(module: str) -> tuple[str, ...]:
    """Files of the package module `module` and of every package module it
    imports, directly or through others. Imports are read with `ast`, lazy
    ones inside functions included; a relative import also runs the
    package's `__init__.py`."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    seen: set[str] = set()
    todo = [module]
    while todo:
        name = todo.pop()
        path = os.path.join(pkg, f"{name}.py")
        if name in seen or not os.path.exists(path):
            continue  # `from . import K1` names an attribute, not a module
        seen.add(name)
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 1:
                todo.append("__init__")
                todo += [node.module] if node.module else [a.name for a in node.names]
    return tuple(os.path.join(pkg, f"{n}.py") for n in sorted(seen))


# the code that decides what a build writes into an index: build.py and
# every package module it imports (rank's dense ids, storage's writers, the
# codecs, the tokenizer, K1/B for meta.json, ...)
_KEY_SOURCES = _imported_sources("build")


def index_key(build_kw: dict, *parts: str) -> str:
    """Hex digest of what a cached index is built from: the build keyword
    arguments, the extra `parts` (the source of the page projection or of
    the build steps, the input's doc count) and the source bytes of the
    modules that write an index."""
    h = hashlib.sha256(json.dumps(build_kw, sort_keys=True).encode())
    for part in parts:
        h.update(b"\0" + part.encode())
    for path in _KEY_SOURCES:
        with open(path, "rb") as f:
            h.update(b"\0" + f.read())
    return h.hexdigest()


def _reuse_or_build(out: str, key: str, build) -> None:
    """Run build() into a fresh `out` unless the index there was built
    under `key` (its build_key.json sidecar). The key is written only
    after the build returns, so a build that failed part-way is rebuilt."""
    from .storage import write_json

    key_path = os.path.join(out, "build_key.json")
    if os.path.exists(key_path):
        with open(key_path) as f:
            if json.load(f) == key:
                return
    shutil.rmtree(out, ignore_errors=True)
    build()
    write_json(key_path, key)


def _cached_index(spark, sf_dir, variant, dir_prefix, make_pages, **build_kw):
    """Shared build-or-reuse scaffolding for the driver-facing indexes: one
    on-disk index per (variant, sf_dir), rebuilt when the build arguments,
    the page projection, the doc count or the index-writing code changed
    (index_key)."""
    from .build import build_index
    from .query import Index

    key = (f"{variant}:" if variant else "") + os.path.abspath(sf_dir)
    if key in _IX_CACHE:
        return _IX_CACHE[key]
    tag = os.path.abspath(sf_dir).strip("/").replace("/", "_")
    out = f"/tmp/{dir_prefix}_{tag}"
    docs = _docs(spark, sf_dir)
    _reuse_or_build(
        out,
        index_key(build_kw, inspect.getsource(make_pages), str(docs.count())),
        lambda: build_index(spark, make_pages(docs), out, n_shards=8, **build_kw),
    )
    ix = Index(spark, out)
    _IX_CACHE[key] = ix
    return ix


def get_index(spark: SparkSession, sf_dir: str):
    return _cached_index(
        spark, sf_dir, "", "blacklab_ix", dated_pages,
        annotations=("word", "lemma", "pos"), index_relations=True,
    )


def _halved_docs(docs):
    """(doc_id, a=tokens, n, h=floor(n/2)) — the shared head/tail split the
    tagged and parallel variants build on (pinned tokenizer split)."""
    arr = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != "")
    d = docs.select("doc_id", arr.alias("a")).withColumn("n", F.size("a"))
    return d.withColumn("h", F.floor(F.col("n") / 2).cast("int"))


def get_tagged_index(spark: SparkSession, sf_dir: str):
    """Markup-input variant of get_index: each document is re-serialized as
    HTML with two <sec> spans (head = first floor(n/2) tokens, tail = rest),
    carrying kind="head"/"tail" attributes, and indexed with
    index_tags=("sec",). Exercises the real markup pipeline end-to-end:
    tag scan at tokenize time, attrs storage, attribute-filtered tag queries
    (reference: tag attributes, cql.jj:348-391)."""

    def make_pages(docs):
        d = _halved_docs(docs)
        html = F.concat(
            F.lit('<sec kind="head">'),
            F.array_join(F.slice(F.col("a"), F.lit(1), F.col("h")), " "),
            F.lit('</sec> <sec kind="tail">'),
            F.array_join(
                F.slice(F.col("a"), F.col("h") + 1, F.col("n") - F.col("h")), " "
            ),
            F.lit("</sec>"),
        )
        return d.select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.encode(html, "utf-8").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("und").alias("lang"),
        )

    return _cached_index(
        spark, sf_dir, "tagged", "blacklab_ixtag", make_pages, index_tags=("sec",)
    )


def get_parallel_index(spark: SparkSession, sf_dir: str):
    """Parallel-corpus variant of get_index: a deterministic 'nl' version of
    each document (every token suffixed with 'x') plus two half-document
    alignment relations (head half -> head half, tail half -> tail half,
    rclass 'al:nl'). Exercises parallel streams + the `==>field` alignment
    operator end-to-end (reference: parallel corpora,
    RelationOperatorInfo.java:25-70)."""

    def make_pages(docs):
        d = _halved_docs(docs)

        def rel(s, e):
            return F.struct(
                F.lit("al:nl").alias("rclass"), F.lit("half").alias("rtype"),
                s.cast("int").alias("src_start"), e.cast("int").alias("src_end"),
                s.cast("int").alias("tgt_start"), e.cast("int").alias("tgt_end"),
            )

        return d.select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("und").alias("lang"),
            F.col("a").alias("tokens"),
            F.transform(F.col("a"), lambda t: F.concat(t, F.lit("x"))).alias("tokens_nl"),
            F.array(
                rel(F.lit(0), F.col("h")), rel(F.col("h"), F.col("n"))
            ).alias("relations"),
        )

    return _cached_index(spark, sf_dir, "parallel", "blacklab_ixpar", make_pages)


def get_relmulti_index(spark: SparkSession, sf_dir: str):
    """Multi-edge relations variant: every token position i>=1 carries an
    input 'ab' dependency edge src=(i-1,i) tgt=(i,i+1), and every third
    position additionally an 'aa' edge on the same spans. Source spans thus
    hold one or two relations — the discriminating fixture for the
    unique-relations AND (`;` child lists / rmatch(),
    SpansAndMultiUniqueRelations.java:308-319): a query whose two clauses
    can both only be satisfied by the single 'ab' edge must NOT match."""

    def make_pages(docs):
        d = _halved_docs(docs)
        idx = F.when(
            F.col("n") >= 2, F.sequence(F.lit(1), F.col("n") - 1)
        ).otherwise(F.array().cast("array<int>"))

        def edge(i, rt):
            return F.struct(
                F.lit("dep").alias("rclass"), F.lit(rt).alias("rtype"),
                (i - 1).cast("int").alias("src_start"), i.cast("int").alias("src_end"),
                i.cast("int").alias("tgt_start"), (i + 1).cast("int").alias("tgt_end"),
            )

        rels = F.concat(
            F.transform(idx, lambda i: edge(i, "ab")),
            F.transform(
                F.filter(idx, lambda i: i % 3 == 0), lambda i: edge(i, "aa")
            ),
        )
        return d.select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("und").alias("lang"),
            F.col("a").alias("tokens"),
            rels.alias("relations"),
        )

    return _cached_index(spark, sf_dir, "relmulti", "blacklab_ixrm", make_pages)


def get_merged_index(spark: SparkSession, sf_dir: str):
    """Two delta segments (documents split at doc_id median) collapsed by
    the posting-level merge (build.merge_segments) — the driver-checked
    end-to-end path for segment merging. Engine doc ids equal
    documents.doc_id: segment A holds the url-rank-lower half (ids 0..h-1),
    segment B builds with base_doc_id=h."""
    from .build import add_segment, build_index, merge_segments
    from .query import Index

    key = "mergedix:" + os.path.abspath(sf_dir)
    if key in _IX_CACHE:
        return _IX_CACHE[key]
    tag = os.path.abspath(sf_dir).strip("/").replace("/", "_")
    out = f"/tmp/blacklab_ixmg_{tag}"
    docs = _docs(spark, sf_dir)
    n = docs.count()

    def build():
        h = n // 2
        build_index(spark, plain_pages(docs.filter(F.col("doc_id") < h)), out, n_shards=4)
        add_segment(
            spark, plain_pages(docs.filter(F.col("doc_id") >= h)), out, "seg1", n_shards=4
        )
        merge_segments(spark, out)

    _reuse_or_build(
        out,
        index_key({}, inspect.getsource(plain_pages), inspect.getsource(build), str(n)),
        build,
    )
    ix = Index(spark, out)
    _IX_CACHE[key] = ix
    return ix


def get_sens_index(spark: SparkSession, sf_dir: str):
    """Sensitivity-variant fixture: deterministic case/accent variants over
    the documents token stream — every 5th position replaces 'a' with 'á',
    every 3rd position uppercases the first letter (accent first, then
    case). Discriminates all four MatchSensitivity variants: 'table' at a
    generic position, 'Table' (%3), 'táble' (%5), 'Táble' (%15)."""

    def make_pages(docs):
        d = _halved_docs(docs)
        toks = F.transform(
            F.col("a"),
            lambda x, i: F.when(
                i % 3 == 0,
                F.concat(
                    F.upper(
                        F.substring(
                            F.when(i % 5 == 0, F.regexp_replace(x, "a", "á"))
                            .otherwise(x), 1, 1
                        )
                    ),
                    F.substring(
                        F.when(i % 5 == 0, F.regexp_replace(x, "a", "á"))
                        .otherwise(x), 2, 1000
                    ),
                ),
            ).otherwise(
                F.when(i % 5 == 0, F.regexp_replace(x, "a", "á")).otherwise(x)
            ),
        )
        return d.select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("und").alias("lang"),
            toks.alias("tokens"),
        )

    return _cached_index(spark, sf_dir, "sens", "blacklab_ixsens", make_pages)


def get_mv_index(spark: SparkSession, sf_dir: str):
    """Multi-value-position fixture (reference: payload-flagged values at
    one position, PayloadUtils.java:14-26): every 7th token position
    carries a secondary value 'qq7x' ('tok|qq7x' input spelling)."""

    def make_pages(docs):
        d = _halved_docs(docs)
        toks = F.transform(
            F.col("a"),
            lambda x, i: F.when(i % 7 == 0, F.concat(x, F.lit("|qq7x"))).otherwise(x),
        )
        return d.select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("und").alias("lang"),
            toks.alias("tokens"),
        )

    return _cached_index(spark, sf_dir, "mv", "blacklab_ixmv", make_pages)


# the same variant construction in DuckDB SQL (accent first, then case)
SQL_SENS_TOKS = """
v0 AS (
  SELECT doc_id, pos,
    CASE WHEN pos % 5 = 0 THEN replace(tok, 'a', 'á') ELSE tok END AS t
  FROM toks
), vtoks AS (
  SELECT doc_id, pos,
    CASE WHEN pos % 3 = 0 THEN upper(substr(t, 1, 1)) || substr(t, 2) ELSE t END AS tv
  FROM v0
)"""


def _ix_hits(df: DataFrame) -> DataFrame:
    """Engine hits -> driver shape (engine doc ids == documents.doc_id by
    construction of the doc:// urls)."""
    return df.select(
        F.col("doc_id").cast("long"),
        F.col("start").cast("int"),
        F.col("end").cast("int"),
    )


def _ix_topk(spark, sf_dir, terms, k, where_src=None) -> DataFrame:
    from .rank import rank_head

    ix = get_index(spark, sf_dir)
    raw = ix.topk(terms, k=k + 10, quantize=False, where_lang=where_src)
    # re-rank on the ROUNDED score (float policy) without a global window
    out = rank_head(
        raw.select("doc_id", F.round("score", 6).alias("score")),
        [("score", False), ("doc_id", True)], 0, k, "rank",
    )
    return out.select(F.col("rank").cast("int"), F.col("doc_id").cast("long"), "score")


# ---------------------------------------------------------------------------
# the query registry
# ---------------------------------------------------------------------------
def build_queries() -> dict:
    q = {}

    # ---------------- engine-backed (postings) ----------------
    q["ix_term_hits"] = lambda s, d: _ix_hits(get_index(s, d).term_hits("table"))
    q["ix_or_hits"] = lambda s, d: _ix_hits(get_index(s, d).or_hits(["vector", "merge"]))
    q["ix_regex_hits"] = lambda s, d: _ix_hits(get_index(s, d).regex_hits("s.*n"))
    q["ix_phrase"] = lambda s, d: _ix_hits(get_index(s, d).phrase_hits(["fast", "sort"]))
    q["ix_near"] = lambda s, d: _ix_hits(get_index(s, d).near_hits("table", "scan", 0, 3))
    q["ix_and_docs"] = lambda s, d: get_index(s, d).and_docs(["table", "vector"]).select(
        F.col("doc_id").cast("long")
    )
    q["ix_and_not_docs"] = lambda s, d: get_index(s, d).and_not_docs("table", "vector").select(
        F.col("doc_id").cast("long")
    )
    q["ix_count"] = lambda s, d: s.createDataFrame(
        [(get_index(s, d).count_hits("table"),)], "n_hits long"
    )
    q["ix_colloc"] = lambda s, d: get_index(s, d).next_token_freq("table").select(
        "next_tok", F.col("n").cast("long")
    )
    q["ix_topk_single"] = lambda s, d: _ix_topk(s, d, ["table"], 10)
    q["ix_topk_multi"] = lambda s, d: _ix_topk(s, d, ["table", "vector", "merge"], 10)
    q["ix_topk_filtered"] = lambda s, d: _ix_topk(s, d, ["table"], 10, where_src="src3")
    # multi-term + metadata filter: exercises the filtered WAND path
    q["ix_topk_multi_filtered"] = lambda s, d: _ix_topk(
        s, d, ["table", "vector", "merge"], 10, where_src="src3"
    )
    def _ix_topk_spans(s, d, raw, k=10):
        """Shared float policy with _ix_topk: re-rank on the rounded score."""
        from .rank import rank_head

        out = rank_head(
            raw.select("doc_id", F.round("score", 6).alias("score")),
            [("score", False), ("doc_id", True)], 0, k, "rank",
        )
        return out.select(
            F.col("rank").cast("int"), F.col("doc_id").cast("long"), "score"
        )

    # ranked phrase / proximity queries (north star: "term, AND/
    # phrase-proximity, and ranked queries"): BM25 where the whole span
    # pattern is the scored unit — tf = hits in doc, df = docs with a hit
    q["ix_topk_phrase"] = lambda s, d: _ix_topk_spans(
        s, d, get_index(s, d).topk_phrase(["fast", "sort"], k=20)
    )
    q["ix_topk_near"] = lambda s, d: _ix_topk_spans(
        s, d, get_index(s, d).topk_near("table", "scan", 0, 3, k=20)
    )
    # conjunctive ranked: BM25 sum over docs containing ALL terms
    q["ix_topk_and"] = lambda s, d: _ix_topk_spans(
        s, d,
        get_index(s, d).topk_and(["table", "vector"], k=20, quantize=False),
    )

    q["ix_kwic"] = lambda s, d: get_index(s, d).kwic(
        get_index(s, d).phrase_hits(["fast", "sort"]), context=5
    ).select(F.col("doc_id").cast("long"), F.col("start").cast("int"),
             F.col("end").cast("int"), "left", "match", "right")

    # ---------------- BCQL / span algebra (engine-backed) ----------------
    def _bcql(s, d, query):
        from . import bcql

        return _ix_hits(bcql.find(get_index(s, d), query))

    q["ix_bcql_gap"] = lambda s, d: _bcql(s, d, '"fast" []{1,2} "scan"')
    q["ix_repetition"] = lambda s, d: _bcql(s, d, '[word="table"]{2,2}')
    q["ix_not_token"] = lambda s, d: _bcql(s, d, '[word!="the"]')
    q["ix_expand_right"] = lambda s, d: _bcql(s, d, '"table" []')
    q["ix_seq_or"] = lambda s, d: _bcql(s, d, '"fast" "sort" | "table" "scan"')

    def ix_capture(s, d):
        from . import bcql

        df = bcql.find(get_index(s, d), '"table" A:[]')
        return df.select(
            F.col("doc_id").cast("long"), F.col("start").cast("int"),
            F.col("end").cast("int"), F.col("A_start").cast("int"),
            F.col("A_end").cast("int"),
        )

    q["ix_capture"] = ix_capture
    q["ix_fuzzy"] = lambda s, d: _ix_hits(get_index(s, d).fuzzy_hits("tble", 1))
    # annotation layers (reference: [lemma=...] / [pos=... & word=...] fixture
    # queries, TestSearches.java:80, test/test/hits.js:53,65-66)
    q["ix_lemma_hits"] = lambda s, d: _bcql(s, d, '[lemma="filt"]')
    q["ix_pos_seq"] = lambda s, d: _bcql(s, d, '[pos="stop"] [word="table"]')
    q["ix_annot_and"] = lambda s, d: _bcql(s, d, '[pos="stop" & word!="the"]')
    # unbounded repetition (reference SpanQueryRepetition has no cap) and
    # prefix-rewritten regex (SimplestMatcher, TextPatternRegex.java:73-98)
    q["ix_rep_unbounded"] = lambda s, d: _bcql(s, d, '"table"{2,}')
    # relations layer (reference: SpanQueryRelations + span-mode adjust;
    # derived 'dep' relations pin rtype = pos of the target token)
    q["ix_rel_full"] = lambda s, d: _bcql(s, d, '_ -stop-> _')
    q["ix_rel_src"] = lambda s, d: _bcql(s, d, '"table" -nn-> _')
    q["ix_rel_mode"] = lambda s, d: _bcql(s, d, 'rspan(_ -stop-> _, "source")')

    def ix_rel_multi(s, d):
        """Unique-relations `;` child list over the multi-edge fixture:
        clause `-a.*->` matches {aa, ab}, clause `-.*b->` only {ab}; a
        distinct assignment exists only where the extra 'aa' edge does
        (every third position) — the reference count, strictly fewer hits
        than a plain coinciding-span AND (SpansAndMultiUniqueRelations)."""
        from . import bcql

        ix = get_relmulti_index(s, d)
        return _ix_hits(bcql.find(ix, '_ -a.*-> _ ; -.*b-> _'))

    q["ix_rel_multi"] = ix_rel_multi
    q["ix_prefix_hits"] = lambda s, d: _ix_hits(get_index(s, d).regex_hits("sc.*"))

    def rs_decade(s, d):
        from . import results as R

        ix = get_index(s, d)
        return R.group_hits_by_decade(ix, ix.term_hits("table")).select(
            "decade", F.col("size").cast("long")
        )

    q["rs_decade"] = rs_decade
    q["ix_constraint"] = lambda s, d: _bcql(s, d, '"table" A:[] :: A.word = "scan"')

    def ix_tag_attr(s, d):
        """Attribute-filtered tag query over real markup input (reference:
        <tag attr="v"/> + containing, cql.jj:348-391)."""
        from . import bcql

        ix = get_tagged_index(s, d)
        return _ix_hits(bcql.find(ix, '<sec kind="tail"/> containing "merge"'))

    q["ix_tag_attr"] = ix_tag_attr

    def ix_align(s, d):
        """Alignment operator over the parallel 'nl' version: 'merge' hits
        whose document half is aligned to an nl half containing 'scanx'."""
        from . import bcql

        ix = get_parallel_index(s, d)
        return _ix_hits(bcql.find(ix, '"merge" ==>nl "scanx"'))

    q["ix_align"] = ix_align

    def ix_par_term(s, d):
        """Standalone parallel-field term query (`@field=nl "tablex"`),
        posting-backed since format 9: the nl version's own term dict +
        posting lists answer it with term_id parquet pushdown, the full
        SpansOverrideField switch (SpansOverrideField.java:5-10) instead of
        the v1 forward-index scan."""
        from . import bcql

        ix = get_parallel_index(s, d)
        return _ix_hits(bcql.find(ix, '@field=nl "tablex"'))

    q["ix_par_term"] = ix_par_term

    def ix_sens_di(s, d):
        """`%c`-only = DIACRITICS_INSENSITIVE (case must match, accents
        folded; MatchSensitivity.java:12-17): matches the 'table' and
        'táble' variants, not 'Table'/'Táble'."""
        from . import bcql

        ix = get_sens_index(s, d)
        return _ix_hits(bcql.find(ix, '"table"%c'))

    def ix_sens_ci(s, d):
        """`%d`-only = CASE_INSENSITIVE (accents must match, case folded):
        matches 'táble' and 'Táble', not the unaccented variants."""
        from . import bcql

        ix = get_sens_index(s, d)
        return _ix_hits(bcql.find(ix, '"táble"%d'))

    def ix_sens_di_regex(s, d):
        """Diacritics-insensitive REGEX (the r3 residual): the pattern runs
        JVM-side against translate(term) — the pinned accent-strip map
        (tokenize.di_translate_args) — with case significant. 't.ble'
        matches the 'table' and 'táble' variants, not 'Table'/'Táble'."""
        from . import bcql

        ix = get_sens_index(s, d)
        return _ix_hits(bcql.find(ix, '"t.ble"%c'))

    q["ix_sens_di"] = ix_sens_di
    q["ix_sens_ci"] = ix_sens_ci
    q["ix_sens_di_regex"] = ix_sens_di_regex
    q["ix_rel_class"] = lambda s, d: _bcql(s, d, '_ -dep::stop-> _')

    def ix_multi_value(s, d):
        """Secondary values at multi-value positions are posting-backed in
        the word layer (PayloadUtils.java:14-26): 'qq7x' matches exactly
        the every-7th positions that carry it."""
        from . import bcql

        ix = get_mv_index(s, d)
        return _ix_hits(bcql.find(ix, '"qq7x"'))

    q["ix_multi_value"] = ix_multi_value

    def ix_merged_term(s, d):
        """Term hits over a two-segment index collapsed by the posting-
        level merge (merge_segments): identical result set to the one-shot
        build, proving dict re-rank + term_id remap + shard renumbering."""
        ix = get_merged_index(s, d)
        return _ix_hits(ix.term_hits("table"))

    q["ix_merged_term"] = ix_merged_term

    def ix_cql_sru(s, d):
        """ContextQL (SRU) query: contents term + metadata wildcard filter
        (reference: contextql.jj -> CompleteQuery)."""
        from . import contextql

        ix = get_index(s, d)
        return _ix_hits(
            contextql.find(ix, 'table and url = "doc://00000000000*"')
        )

    q["ix_cql_sru"] = ix_cql_sru

    def ix_termfreq(s, d):
        return (
            get_index(s, d).term_freqs(fold=True)
            .orderBy(F.col("cf").desc(), "term").limit(15)
            .select("term", F.col("cf").cast("long"))
        )

    q["ix_termfreq"] = ix_termfreq

    # ---------------- results pipeline (engine-backed) ----------------
    def rs_group_text(s, d):
        from . import results as R

        ix = get_index(s, d)
        hits = ix.or_hits(["table", "vector"])
        return R.group_hits_by_text(ix, hits).select(
            "group_key", F.col("size").cast("long")
        )

    q["rs_group_text"] = rs_group_text

    def rs_colloc2(s, d):
        from . import results as R

        ix = get_index(s, d)
        return R.collocations(ix, ix.term_hits("table"), context=2).select(
            "term", F.col("n").cast("long")
        )

    q["rs_colloc2"] = rs_colloc2

    def rs_sorted_window(s, d):
        from . import results as R
        from .rank import rank_head

        ix = get_index(s, d)
        hits = ix.term_hits("merge")
        srt = R._hit_text_col(ix, hits, "after", 3, True)
        return rank_head(srt, ["_key", "doc_id", "start"], 10, 20, "rank").select(
            F.col("rank").cast("int"), F.col("doc_id").cast("long"),
            F.col("start").cast("int"), F.col("end").cast("int"),
        )

    q["rs_sorted_window"] = rs_sorted_window

    def rs_group_window(s, d):
        """Group-level sort/window (reference SearchHitGroupsWindow /
        HitGroupPropertySize): hit groups by match text, size-descending
        order, page [2, 7) — TakeOrderedAndProject plan, no global window."""
        from . import results as R

        ix = get_index(s, d)
        hits = ix.or_hits(["table", "vector", "scan", "merge", "the"])
        g = R.group_hits_by_text(ix, hits).select("group_key", "size")
        return R.window_groups(g, 2, 5, by="size").select(
            "group_key", F.col("size").cast("long").alias("size")
        )

    q["rs_group_window"] = rs_group_window

    def src_warc(s, d):
        """REAL web-archive ingestion round-trip: deterministic Common
        Crawl-shaped *.warc.gz / *.wet.gz shards (per-record gzip members)
        are synthesized once per sf dir — doc_id%7==0 a 404 response (must
        be dropped by the status filter), doc_id%5==0 a WET conversion
        record, else a 200 HTML response — then parsed back by the
        distributed warc.pages_from_warc reader (binaryFile per shard +
        mapInPandas record walk + html->text extraction). The oracle
        recomputes url / extracted text / UTC hour / body byte-length in
        closed-form SQL over doc_id, so any record-walk, gzip-member,
        HTTP-status, charset, or extraction bug is a value-hash mismatch."""
        import hashlib
        import os
        import shutil
        import tempfile

        from . import warc as W

        cache = os.path.join(
            tempfile.gettempdir(),
            "blacklab_warc_"
            + hashlib.md5(os.path.abspath(d).encode()).hexdigest()[:10],
        )
        if not os.path.isdir(cache):
            ids = sorted(
                r.doc_id
                for r in s.read.parquet(f"{d}/documents.parquet")
                .select("doc_id").filter(F.col("doc_id") < 300).collect()
            )  # bounded: <=300 scalars, fixture synthesis only
            tmp = cache + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            for sh in range(4):
                resp, wet = [], []
                for i in ids:
                    if i % 4 != sh:
                        continue
                    date = f"2021-01-{1 + i % 28:02d}T{i % 24:02d}:00:00Z"
                    url = f"http://ex.test/{i}"
                    if i % 7 == 0:
                        resp.append({"url": url, "date": date,
                                     "html": "gone", "status": 404})
                    elif i % 5 == 0:
                        wet.append({"url": url, "date": date,
                                    "text": f"wet doc {i}"})
                    else:
                        resp.append({
                            "url": url, "date": date,
                            "html": f"<html><body><p>doc {i} &amp; text</p>"
                                    f"<script>x()</script></body></html>",
                        })
                with open(os.path.join(tmp, f"s{sh:05d}.warc.gz"), "wb") as f:
                    f.write(W.build_warc(resp, gz=True))
                with open(os.path.join(tmp, f"s{sh:05d}.wet.gz"), "wb") as f:
                    f.write(W.build_warc(wet, gz=True, wet=True))
            try:
                os.rename(tmp, cache)
            except OSError:  # concurrent synth won the race
                shutil.rmtree(tmp, ignore_errors=True)
        pages = W.pages_from_warc(s, cache + "/*.gz")
        return pages.select(
            "url", "text",
            F.hour("warc_ts").cast("int").alias("ts_hour"),
            F.coalesce(F.length("html"), F.lit(-1)).cast("int").alias("html_len"),
        )

    q["src_warc"] = src_warc

    def src_iceberg(s, d):
        """REAL Iceberg-table round-trip (north-rule corpus source): the
        documents table is committed as TWO append snapshots (even doc_ids,
        then odd) into a spec-v2 table — metadata JSON + Avro manifest
        lists/manifests written by iceberg.py — then read back through the
        two scan paths a crawl-ingest pipeline uses: snapshot-isolated time
        travel at snapshot 1 (batch 1) and the incremental append scan
        after snapshot 1 (batch 2). A planner bug (wrong file set, broken
        sequence-number inheritance, stale snapshot resolution) changes
        rows or batches and hash-mismatches the closed-form oracle."""
        import hashlib
        import os
        import shutil
        import tempfile

        from .iceberg import IcebergTable

        cache = os.path.join(
            tempfile.gettempdir(),
            "blacklab_ice_"
            + hashlib.md5(os.path.abspath(d).encode()).hexdigest()[:10],
        )
        if not os.path.isdir(cache):
            docs = (
                s.read.parquet(f"{d}/documents.parquet")
                .filter(F.col("doc_id") < 400)
                .select("doc_id", "text", "lang")
            )
            tmp = cache + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            t = IcebergTable.create(tmp, "doc_id bigint, text string, lang string")
            t.append(s, docs.filter(F.col("doc_id") % 2 == 0))
            t.append(s, docs.filter(F.col("doc_id") % 2 == 1))
            try:
                os.rename(tmp, cache)
            except OSError:  # concurrent synth won the race
                shutil.rmtree(tmp, ignore_errors=True)
        t = IcebergTable(cache)
        snap1 = t.snapshots()[0]
        a = t.read(s, snapshot_id=snap1["snapshot-id"]).withColumn("batch", F.lit(1))
        b = t.read_incremental(s, snap1["sequence-number"]).withColumn("batch", F.lit(2))
        return a.unionByName(b).select(
            "doc_id", F.col("batch").cast("int").alias("batch"), "text", "lang"
        )

    q["src_iceberg"] = src_iceberg

    def src_iceberg_part(s, d):
        """Partition-pruned Iceberg scan: events committed into a table
        partitioned by (day(ts), event_type) — the Common-Crawl layout
        (crawl-day + category) — then read back through a METADATA-side
        partition filter (day < cutoff AND type = 'click'). The pruned
        file set must equal the SQL predicate exactly (day partitioning
        makes the file slice == the predicate), so a wrong day transform,
        a mis-parsed hive dir value, a broken partition tuple in the
        manifest, or a filter-evaluation bug changes rows and mismatches."""
        import hashlib
        import os
        import shutil
        import tempfile

        from .iceberg import IcebergTable

        cache = os.path.join(
            tempfile.gettempdir(),
            "blacklab_icep_"
            + hashlib.md5(os.path.abspath(d).encode()).hexdigest()[:10],
        )
        if not os.path.isdir(cache):
            ev = s.read.parquet(f"{d}/events.parquet").select(
                "event_id", "ts", "event_type", "value"
            )
            tmp = cache + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            t = IcebergTable.create(
                tmp,
                "event_id bigint, ts timestamp, event_type string, value double",
                partition_by=["day(ts)", "event_type"],
            )
            t.append(s, ev)
            try:
                os.rename(tmp, cache)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
        t = IcebergTable(cache)
        out = t.read(
            s,
            partition_filter={"ts_day": ("<", 19730), "event_type": "click"},
        )
        return out.select("event_id", "ts", "event_type")

    q["src_iceberg_part"] = src_iceberg_part

    # ---------------- forward-index fast path ----------------
    def ft_termfreq(s, d):
        return (
            _toks(s, d).groupBy(F.col("tok").alias("term"))
            .agg(F.count("*").alias("cf"))
            .orderBy(F.col("cf").desc(), "term").limit(20)
        )

    q["ft_termfreq_top20"] = ft_termfreq

    def ft_facet_source(s, d):
        t = _toks(s, d).filter(F.col("tok") == "vector").select("doc_id").distinct()
        return (
            t.join(_docs(s, d), "doc_id")
            .groupBy("source").agg(F.countDistinct("doc_id").alias("n"))
        )

    q["ft_facet_source"] = ft_facet_source

    def ft_window(s, d):
        from .rank import rank_head

        h = _toks(s, d).filter(F.col("tok") == "table")
        return rank_head(h, ["doc_id", "pos"], 20, 20).select(
            "doc_id", F.col("pos").alias("start"), (F.col("pos") + 1).alias("end")
        )

    q["ft_window"] = ft_window

    def ft_sample(s, d):
        h = _toks(s, d).filter((F.col("tok") == "table") & (F.col("doc_id") % 10 == 3))
        return h.select("doc_id", F.col("pos").alias("start"), (F.col("pos") + 1).alias("end"))

    q["ft_sample"] = ft_sample

    def ft_doclen_hist(s, d):
        t = _toks(s, d).groupBy("doc_id").agg(F.count("*").alias("n"))
        return (
            t.select((F.floor(F.col("n") / 10) * 10).cast("long").alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("n_docs"))
        )

    q["ft_doclen_hist"] = ft_doclen_hist

    return _rotate_registration(q)


# Per-round correctness reports: one CORRECTNESS_r<N>.json per round in the
# repo root, keyed by the entry names checked that round. Absent
# from the --py-files zip.
_REPORTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CORRECTNESS_r*.json"
)


def _rotate_registration(q: dict) -> dict:
    """Order the registry for the per-round correctness check, which
    samples the FIRST 50 entries: entries the reports checked least
    recently (never checked first) register first, registration order
    breaking ties. With no reports this is plain registration order."""
    last = dict.fromkeys(q, 0)
    for path in glob.glob(_REPORTS):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name in json.load(f):
                if name in last:
                    last[name] = max(last[name], rnd)
    return {k: q[k] for k in sorted(q, key=last.__getitem__)}


# ---------------------------------------------------------------------------
# oracle SQL registry (DuckDB dialect, same column names/types/rounding)
# ---------------------------------------------------------------------------
def build_oracles() -> dict:
    o = {}
    hits = "SELECT doc_id, pos AS start, pos + 1 AS \"end\" FROM toks"
    o["ix_term_hits"] = f"WITH {SQL_TOKS} {hits} WHERE tok = 'table'"
    o["ix_merged_term"] = o["ix_term_hits"]
    o["ix_or_hits"] = f"WITH {SQL_TOKS} {hits} WHERE tok IN ('vector', 'merge')"
    o["ix_regex_hits"] = f"WITH {SQL_TOKS} {hits} WHERE regexp_matches(tok, '^(?:s.*n)$')"
    o["ix_phrase"] = f"""
WITH {SQL_TOKS}
SELECT a.doc_id, a.pos AS start, a.pos + 2 AS "end"
FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'fast' AND b.tok = 'sort'
"""
    o["ix_near"] = f"""
WITH {SQL_TOKS}
SELECT DISTINCT a.doc_id, a.pos AS start, b.pos + 1 AS "end"
FROM toks a JOIN toks b ON b.doc_id = a.doc_id
WHERE a.tok = 'table' AND b.tok = 'scan'
  AND b.pos - (a.pos + 1) BETWEEN 0 AND 3
"""
    o["ix_and_docs"] = f"""
WITH {SQL_TOKS}
SELECT doc_id FROM toks WHERE tok = 'table'
INTERSECT
SELECT doc_id FROM toks WHERE tok = 'vector'
"""
    o["ix_and_not_docs"] = f"""
WITH {SQL_TOKS}
SELECT doc_id FROM toks WHERE tok = 'table'
EXCEPT
SELECT doc_id FROM toks WHERE tok = 'vector'
"""
    # ContextQL: 'table' hits restricted to doc_id 0..9 (the url wildcard)
    o["ix_cql_sru"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end" FROM toks
WHERE tok = 'table' AND doc_id < 10
"""
    # 'merge' tokens whose half (head: pos < floor(n/2), tail: pos >= that)
    # also contains 'scan' — the half-alignment relations are src=tgt spans
    # and nl tokens are 'x'-suffixed, so 'scanx' aligns exactly to 'scan'
    # parallel nl token at pos i = main token + 'x'; positions in the nl
    # stream equal main-stream positions by construction of the fixture
    o["ix_par_term"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end" FROM toks WHERE tok = 'table'
"""
    o["ix_align"] = f"""
WITH {SQL_TOKS},
nn AS (SELECT doc_id, count(*) AS c FROM toks GROUP BY doc_id),
hh AS (SELECT doc_id, CAST(floor(c / 2) AS INT) AS h FROM nn)
SELECT m.doc_id, m.pos AS start, m.pos + 1 AS "end"
FROM toks m JOIN hh USING (doc_id)
WHERE m.tok = 'merge' AND EXISTS (
  SELECT 1 FROM toks s
  WHERE s.doc_id = m.doc_id AND s.tok = 'scan'
    AND (s.pos < hh.h) = (m.pos < hh.h)
)
"""
    # tail <sec> span = (floor(n/2), n); keep spans containing >= 1 'merge'
    o["ix_tag_attr"] = f"""
WITH {SQL_TOKS},
n AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
span AS (
  SELECT doc_id, CAST(floor(n / 2) AS INT) AS start, CAST(n AS INT) AS "end"
  FROM n WHERE n >= 1
)
SELECT s.doc_id, s.start, s."end"
FROM span s
WHERE EXISTS (
  SELECT 1 FROM toks t
  WHERE t.doc_id = s.doc_id AND t.tok = 'merge'
    AND t.pos >= s.start AND t.pos < s."end"
)
"""
    o["ix_count"] = f"WITH {SQL_TOKS} SELECT CAST(count(*) AS BIGINT) AS n_hits FROM toks WHERE tok = 'table'"
    o["ix_colloc"] = f"""
WITH {SQL_TOKS}
SELECT b.tok AS next_tok, CAST(count(*) AS BIGINT) AS n
FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'table' GROUP BY 1
"""
    def _sql_topk_spans(hits_sql: str, k: int = 10) -> str:
        """BM25 over a span-hit CTE `h(doc_id, ...)`: tf = rows per doc,
        df = docs with >=1 row — mirrors Index.topk_spans exactly."""
        return f"""
WITH {SQL_TOKS}, {SQL_DL},
h AS ({hits_sql}),
tf AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS tf FROM h GROUP BY 1),
dfreq AS (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf),
sc AS (
  SELECT tf.doc_id,
         ln(1 + ((SELECT n FROM stats) - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (SELECT avgdl FROM stats))))
         * (1.2 + 1.0) AS score
  FROM tf CROSS JOIN dfreq JOIN dl ON dl.doc_id = tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT CAST(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS INT) AS rank,
         doc_id, round(score, 6) AS score
  FROM sc
) WHERE rank <= {k}
"""

    o["ix_topk_and"] = """
WITH """ + SQL_TOKS + """, """ + SQL_DL + """,
q(term) AS (VALUES ('table'), ('vector')),
conj AS (
  SELECT doc_id FROM toks WHERE tok = 'table'
  INTERSECT
  SELECT doc_id FROM toks WHERE tok = 'vector'
),
tf AS (
  SELECT t.doc_id, q.term, CAST(count(*) AS DOUBLE) AS tf
  FROM toks t JOIN q ON t.tok = q.term
  WHERE t.doc_id IN (SELECT doc_id FROM conj)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM (SELECT DISTINCT doc_id, term FROM (
  SELECT t.doc_id, q.term FROM toks t JOIN q ON t.tok = q.term)) GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         sum( ln(1 + ((SELECT n FROM stats) - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (SELECT avgdl FROM stats))))
              * (1.2 + 1.0) ) AS score
  FROM tf JOIN dfreq USING (term) JOIN dl ON dl.doc_id = tf.doc_id
  GROUP BY 1
)
SELECT rank, doc_id, score FROM (
  SELECT CAST(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS INT) AS rank,
         doc_id, round(score, 6) AS score
  FROM sc
) WHERE rank <= 10
"""
    o["ix_topk_phrase"] = _sql_topk_spans("""
  SELECT a.doc_id
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.tok = 'fast' AND b.tok = 'sort'
""")
    o["ix_topk_near"] = _sql_topk_spans("""
  SELECT DISTINCT a.doc_id, a.pos AS start, b.pos + 1 AS e
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id
  WHERE a.tok = 'table' AND b.tok = 'scan'
    AND b.pos - (a.pos + 1) BETWEEN 0 AND 3
""")
    o["ix_topk_single"] = _sql_topk(["table"], 10)
    o["ix_topk_multi"] = _sql_topk(["table", "vector", "merge"], 10)
    o["ix_topk_filtered"] = _sql_topk(["table"], 10, where="source = 'src3'")
    o["ix_topk_multi_filtered"] = _sql_topk(
        ["table", "vector", "merge"], 10, where="source = 'src3'"
    )
    o["ix_kwic"] = f"""
WITH {SQL_TOKS},
tarr AS (SELECT doc_id, list(tok ORDER BY pos) AS arr FROM toks GROUP BY doc_id),
h AS (
  SELECT a.doc_id, a.pos AS start, a.pos + 2 AS e
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.tok = 'fast' AND b.tok = 'sort'
)
SELECT h.doc_id, h.start, h.e AS "end",
  coalesce(array_to_string(arr[greatest(1, h.start + 1 - 5) : h.start], ' '), '') AS "left",
  coalesce(array_to_string(arr[h.start + 1 : h.e], ' '), '') AS "match",
  coalesce(array_to_string(arr[h.e + 1 : least(len(arr), h.e + 5)], ' '), '') AS "right"
FROM h JOIN tarr USING (doc_id)
"""

    o["ix_bcql_gap"] = f"""
WITH {SQL_TOKS}
SELECT a.doc_id, a.pos AS start, b.pos + 1 AS "end"
FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos BETWEEN a.pos + 2 AND a.pos + 3
WHERE a.tok = 'fast' AND b.tok = 'scan'
"""
    o["ix_repetition"] = f"""
WITH {SQL_TOKS}
SELECT a.doc_id, a.pos AS start, a.pos + 2 AS "end"
FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'table' AND b.tok = 'table'
"""
    o["ix_not_token"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end" FROM toks WHERE tok <> 'the'
"""
    o["ix_expand_right"] = f"""
WITH {SQL_TOKS}
SELECT a.doc_id, a.pos AS start, a.pos + 2 AS "end"
FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'table'
"""
    o["ix_capture"] = f"""
WITH {SQL_TOKS}
SELECT a.doc_id, a.pos AS start, a.pos + 2 AS "end",
       a.pos + 1 AS "A_start", a.pos + 2 AS "A_end"
FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'table'
"""
    o["ix_seq_or"] = f"""
WITH {SQL_TOKS}
SELECT a.doc_id, a.pos AS start, a.pos + 2 AS "end"
FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE (a.tok = 'fast' AND b.tok = 'sort') OR (a.tok = 'table' AND b.tok = 'scan')
"""
    o["ix_constraint"] = f"""
WITH {SQL_TOKS}
SELECT a.doc_id, a.pos AS start, a.pos + 2 AS "end"
FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'table' AND b.tok = 'scan'
"""
    # transpositions count ONE edit (Lucene FuzzyQuery default, now mirrored
    # by fuzzy_hits); at threshold 1, DuckDB's true Damerau-Levenshtein
    # coincides exactly with the engine's OSA metric
    o["ix_fuzzy"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end" FROM toks
WHERE damerau_levenshtein(tok, 'tble') <= 1
"""
    o["ix_lemma_hits"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end" FROM toks WHERE ({SQL_LEMMA}) = 'filt'
"""
    o["ix_pos_seq"] = f"""
WITH {SQL_TOKS},
pt AS (SELECT doc_id, pos, tok, {SQL_POS} AS p FROM toks)
SELECT a.doc_id, a.pos AS start, a.pos + 2 AS "end"
FROM pt a JOIN pt b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.p = 'stop' AND b.tok = 'table'
"""
    o["ix_annot_and"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end" FROM toks
WHERE ({SQL_POS}) = 'stop' AND tok <> 'the'
"""
    o["ix_rep_unbounded"] = f"""
WITH {SQL_TOKS},
h AS (SELECT doc_id, pos FROM toks WHERE tok = 'table'),
runs AS (
  SELECT doc_id, min(pos) AS rs, max(pos) + 1 AS re FROM (
    SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
    FROM h
  ) GROUP BY doc_id, isl
  HAVING max(pos) + 1 - min(pos) >= 2
)
SELECT doc_id, CAST(s AS INT) AS start, CAST(s + l AS INT) AS "end"
FROM runs,
     LATERAL (SELECT unnest(range(2, re - rs + 1)) AS l) ll,
     LATERAL (SELECT unnest(range(rs, re - l + 1)) AS s) ss
"""
    o["ix_prefix_hits"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end" FROM toks WHERE tok LIKE 'sc%'
"""
    o["rs_decade"] = f"""
WITH {SQL_TOKS}
SELECT CAST(((1970 + doc_id % 60) // 10) * 10 AS BIGINT) AS decade,
       CAST(count(*) AS BIGINT) AS size
FROM toks WHERE tok = 'table' GROUP BY 1
"""
    o["ix_rel_full"] = f"""
WITH {SQL_TOKS},
pt AS (SELECT doc_id, pos, tok, {SQL_POS} AS p FROM toks)
SELECT b.doc_id, CAST(b.pos - 1 AS INT) AS start, CAST(b.pos + 1 AS INT) AS "end"
FROM pt b WHERE b.pos >= 1 AND b.p = 'stop'
"""
    # class-qualified spelling of the same query (derived relations carry
    # class 'dep'): identical result set to ix_rel_full
    o["ix_rel_class"] = o["ix_rel_full"]
    o["ix_rel_src"] = f"""
WITH {SQL_TOKS},
pt AS (SELECT doc_id, pos, tok, {SQL_POS} AS p FROM toks)
SELECT b.doc_id, CAST(b.pos - 1 AS INT) AS start, CAST(b.pos + 1 AS INT) AS "end"
FROM pt b JOIN pt a ON a.doc_id = b.doc_id AND a.pos = b.pos - 1
WHERE b.p = 'nn' AND a.tok = 'table'
"""
    o["ix_rel_mode"] = f"""
WITH {SQL_TOKS},
pt AS (SELECT doc_id, pos, tok, {SQL_POS} AS p FROM toks)
SELECT b.doc_id, CAST(b.pos - 1 AS INT) AS start, CAST(b.pos AS INT) AS "end"
FROM pt b WHERE b.pos >= 1 AND b.p = 'stop'
"""
    o["ix_sens_di"] = f"""
WITH {SQL_TOKS},{SQL_SENS_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end"
FROM vtoks WHERE strip_accents(tv) = 'table'
"""
    o["ix_sens_ci"] = f"""
WITH {SQL_TOKS},{SQL_SENS_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end"
FROM vtoks WHERE lower(tv) = 'táble'
"""
    o["ix_sens_di_regex"] = f"""
WITH {SQL_TOKS},{SQL_SENS_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end"
FROM vtoks WHERE regexp_full_match(strip_accents(tv), 't.ble')
"""
    o["ix_multi_value"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end"
FROM toks WHERE pos % 7 = 0 OR tok = 'qq7x'
"""
    o["ix_rel_multi"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, CAST(pos - 1 AS INT) AS start, CAST(pos AS INT) AS "end"
FROM toks WHERE pos >= 1 AND pos % 3 = 0
"""
    o["ix_termfreq"] = f"""
WITH {SQL_TOKS}
SELECT tok AS term, CAST(count(*) AS BIGINT) AS cf FROM toks
GROUP BY 1 ORDER BY cf DESC, term LIMIT 15
"""
    o["rs_group_text"] = f"""
WITH {SQL_TOKS}
SELECT tok AS group_key, CAST(count(*) AS BIGINT) AS size
FROM toks WHERE tok IN ('table', 'vector') GROUP BY 1
"""
    o["rs_colloc2"] = f"""
WITH {SQL_TOKS}
SELECT b.tok AS term, CAST(count(*) AS BIGINT) AS n
FROM toks a JOIN toks b
  ON b.doc_id = a.doc_id AND b.pos BETWEEN a.pos - 2 AND a.pos + 2 AND b.pos <> a.pos
WHERE a.tok = 'table' GROUP BY 1
"""
    o["rs_group_window"] = f"""
WITH {SQL_TOKS},
g AS (
  SELECT tok AS group_key, count(*) AS size FROM toks
  WHERE tok IN ('table', 'vector', 'scan', 'merge', 'the')
  GROUP BY tok
)
SELECT group_key, size FROM g ORDER BY size DESC, group_key LIMIT 5 OFFSET 2
"""
    o["rs_sorted_window"] = f"""
WITH {SQL_TOKS},
tarr AS (SELECT doc_id, list(tok ORDER BY pos) AS arr FROM toks GROUP BY doc_id),
h AS (
  SELECT t.doc_id, t.pos AS start, t.pos + 1 AS e,
         coalesce(array_to_string(arr[t.pos + 2 : least(len(arr), t.pos + 4)], ' '), '') AS k
  FROM toks t JOIN tarr USING (doc_id) WHERE t.tok = 'merge'
)
SELECT rank, doc_id, start, e AS "end" FROM (
  SELECT CAST(row_number() OVER (ORDER BY k, doc_id, start) AS INT) AS rank, *
  FROM h
) WHERE rank > 10 AND rank <= 30
"""
    o["src_iceberg_part"] = """
SELECT event_id, ts, event_type
FROM events
WHERE floor(epoch(ts) / 86400) < 19730 AND event_type = 'click'
"""
    o["src_iceberg"] = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS batch,
       text, lang
FROM documents WHERE doc_id < 400
"""
    o["src_warc"] = """
SELECT 'http://ex.test/' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 5 = 0 THEN 'wet doc ' || CAST(doc_id AS VARCHAR)
            ELSE 'doc ' || CAST(doc_id AS VARCHAR) || ' & text' END AS text,
       CAST(doc_id % 24 AS INT) AS ts_hour,
       CASE WHEN doc_id % 5 = 0 THEN -1
            ELSE LENGTH('<html><body><p>doc ' || CAST(doc_id AS VARCHAR)
                 || ' &amp; text</p><script>x()</script></body></html>')
            END AS html_len
FROM documents WHERE doc_id < 300 AND doc_id % 7 <> 0
"""
    o["ft_termfreq_top20"] = f"""
WITH {SQL_TOKS}
SELECT tok AS term, CAST(count(*) AS BIGINT) AS cf FROM toks
GROUP BY 1 ORDER BY cf DESC, term LIMIT 20
"""
    o["ft_facet_source"] = f"""
WITH {SQL_TOKS}
SELECT d.source, CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n
FROM (SELECT DISTINCT doc_id FROM toks WHERE tok = 'vector') t
JOIN documents d USING (doc_id) GROUP BY 1
"""
    o["ft_window"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, start, "end" FROM (
  SELECT doc_id, pos AS start, pos + 1 AS "end",
         row_number() OVER (ORDER BY doc_id, pos) AS rn
  FROM toks WHERE tok = 'table'
) WHERE rn > 20 AND rn <= 40
"""
    o["ft_sample"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, pos AS start, pos + 1 AS "end" FROM toks
WHERE tok = 'table' AND doc_id % 10 = 3
"""
    o["ft_doclen_hist"] = f"""
WITH {SQL_TOKS}
SELECT CAST((c // 10) * 10 AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_docs
FROM (SELECT doc_id, count(*) AS c FROM toks GROUP BY 1) GROUP BY 1
"""
    return o
