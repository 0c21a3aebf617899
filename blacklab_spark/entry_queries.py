"""Driver-facing queries + DuckDB oracle SQL (the per-round correctness gate).

Two families over the driver's `documents` table:
- ix_*  : routed through the real inverted-index engine (build.py/query.py);
          documents are adapted to the pages input shape and indexed once per
          sf_dir (cached on disk under /tmp).
- ft_*  : the declarative forward-index fast path (pure DataFrame ops over
          tokenized arrays — the analog of the reference's
          HitGroupsTokenFrequencies fast path).

Plus training-data pipeline ops over documents/embeddings/events:
dd_* (dedup), sim_* (similarity search), txt_* (text analysis), ev_* (events).

Tokenization here is pinned to: non-empty pieces of lower(text) split on
[^a-z0-9]+, positions counted over non-empty tokens — expressible identically
in Spark and DuckDB (the documents corpus is ASCII, so this equals the
engine's unicode tokenizer + fold on this data).

Float policy: every float column is round(x, 6) on both sides, and every
ranking orders by the ROUNDED value with a deterministic id tiebreak.
"""

from __future__ import annotations

import glob
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

K1, B = 1.2, 0.75
TOPK_STOP = ("a", "the")

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

SQL_SH3 = """
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS s
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE s IS NOT NULL
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



SQL_HP = """
e AS (
  SELECT vec_id, CAST(u.v AS DOUBLE) AS v, u.i AS i FROM (
    SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
    FROM embeddings
  ) u(vec_id, v, i)
),
planes AS (
  SELECT p.p, d.i,
         CASE WHEN instr('0123456789abcdef', substr(md5(p.p || '_' || d.i), 1, 1)) - 1 >= 8
              THEN 1.0 ELSE -1.0 END AS wt
  FROM (SELECT unnest(range(6)) AS p) p CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
),
proj AS (SELECT e.vec_id, planes.p, sum(e.v * planes.wt) AS sm FROM e JOIN planes USING (i) GROUP BY 1, 2),
buck AS (SELECT vec_id, sum(CASE WHEN sm > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) AS bucket FROM proj GROUP BY 1)
"""

SQL_LSH_CAND = """
mh AS (
  SELECT doc_id, h.i AS hi, min(md5(s || '#' || h.i)) AS mh
  FROM sh CROSS JOIN (SELECT unnest(range(4)) AS i) h
  GROUP BY 1, 2
),
okb AS (SELECT hi, mh FROM mh GROUP BY hi, mh HAVING count(*) <= 50),
capped AS (SELECT mh.doc_id, mh.hi, mh.mh FROM mh JOIN okb USING (hi, mh)),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(DISTINCT a.hi) AS shared_bands
  FROM capped a JOIN capped b ON a.hi = b.hi AND a.mh = b.mh AND b.doc_id > a.doc_id
  GROUP BY 1, 2
)
"""


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


def _sh3(spark, sf_dir) -> DataFrame:
    t = _toks(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    s = F.concat_ws(" ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w))
    # concat_ws skips NULLs, so emulate SQL NULL propagation via lead presence
    return (
        t.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "t1", "t2").alias("s"))
        .distinct()
    )


LSH_BUCKET_CAP = 50  # max docs per (band, minhash) bucket before it is
# dropped as degenerate (boilerplate-heavy shingles): one hot bucket of m
# members makes m^2/2 candidate pairs, the classic LSH blow-up at scale.


def _lsh_cand(spark, sf_dir) -> DataFrame:
    """Candidate near-dup pairs from banded min-hash (4 bands over
    3-shingles), with a per-bucket size cap. (doc_a, doc_b, shared_bands)."""
    sh = _sh3(spark, sf_dir)
    h = sh.select(
        "doc_id", "s", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("hi")
    )
    mh = h.groupBy("doc_id", "hi").agg(
        F.min(F.md5(F.concat(F.col("s"), F.lit("#"), F.col("hi").cast("string")))).alias("mh")
    )
    # per-bucket size via a PARTITIONED window (one pass over mh; an
    # agg + semi-join would recompute the whole minhash subtree twice)
    wb = Window.partitionBy("hi", "mh")
    capped = (
        mh.withColumn("_n", F.count("*").over(wb))
        .filter(F.col("_n") <= LSH_BUCKET_CAP)
        .drop("_n")
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(b, (F.col("a.hi") == F.col("b.hi")) & (F.col("a.mh") == F.col("b.mh"))
               & (F.col("b.doc_id") > F.col("a.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.countDistinct("a.hi").alias("shared_bands"))
    )


def hp_planes_for(n_vectors: int, target_bucket: int = 1000) -> int:
    """Scaling rule for the hyperplane count: 2^n_planes buckets sized to
    hold ~target_bucket vectors each, i.e. n_planes ≈ log2(N/target_bucket),
    floored at 6 (the pinned fixture value the oracle entries verify
    against). At 10^9 vectors this gives 20 planes (~10^6 buckets), keeping
    the candidate join's O(Σ bucket²) bounded; a fixed 64-bucket layout
    would blow up quadratically there."""
    import math

    if n_vectors <= 0:
        return 6
    return max(6, math.ceil(math.log2(max(1, n_vectors / target_bucket))))


def _hp_buckets(spark, sf_dir, n_planes: int = 6) -> DataFrame:
    """Random-hyperplane LSH buckets over the embeddings table: n_planes
    pinned md5-derived hyperplanes -> (vec_id, bucket). The shared candidate
    generator for ANN probing and embedding near-dup (bucket-equi join, no
    crossJoin anywhere). n_planes defaults to the fixture constant 6 the
    oracle entries are pinned at; size production runs with hp_planes_for(N)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
    ).select("vec_id", (F.col("pos") + 1).alias("i"), F.col("col").alias("v"))
    # one range, no crossJoin (even a constant-size BNLJ trips plan audits)
    planes = spark.range(n_planes * 64).select(
        (F.col("id") / 64).cast("int").alias("p"),
        (F.col("id") % 64 + 1).cast("int").alias("i"),
    ).withColumn(
        "wt",
        F.when(
            F.expr("instr('0123456789abcdef', substring(md5(concat(cast(p as string), '_', cast(i as string))),1,1)) - 1") >= 8,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)),
    )
    proj = (
        e.join(F.broadcast(planes), "i")
        .groupBy("vec_id", "p").agg(F.sum(F.col("v") * F.col("wt")).alias("sm"))
    )
    return proj.groupBy("vec_id").agg(
        F.sum(F.when(F.col("sm") > 0, F.expr("cast(pow(2, p) as long)")).otherwise(F.lit(0))).alias("bucket")
    )


# ---------------------------------------------------------------------------
# engine-backed index (cached per sf_dir)
# ---------------------------------------------------------------------------
_IX_CACHE: dict[str, object] = {}


def _cached_index(spark, sf_dir, variant, dir_prefix, meta_ok, make_pages, **build_kw):
    """Shared build-or-reuse scaffolding for the driver-facing indexes: one
    on-disk index per (variant, sf_dir), rebuilt when meta.json is missing
    or fails `meta_ok(meta, n_docs)` (n_docs/format_version are always
    checked)."""
    from .build import FORMAT_VERSION, build_index
    from .query import Index

    key = (f"{variant}:" if variant else "") + os.path.abspath(sf_dir)
    if key in _IX_CACHE:
        return _IX_CACHE[key]
    tag = os.path.abspath(sf_dir).strip("/").replace("/", "_")
    out = f"/tmp/{dir_prefix}_{tag}"
    docs = _docs(spark, sf_dir)
    n = docs.count()
    meta_path = f"{out}/segments/seg0/meta.json"
    ok = False
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            m = json.load(f)
        ok = (
            m.get("n_docs") == n
            and m.get("format_version") == FORMAT_VERSION
            and meta_ok(m)
        )
    if not ok:
        build_index(spark, make_pages(docs), out, n_shards=8, **build_kw)
    ix = Index(spark, out)
    _IX_CACHE[key] = ix
    return ix


def get_index(spark: SparkSession, sf_dir: str):
    def pages(docs):
        return docs.select(
            F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
            # deterministic per-doc timestamp: year 1970 + doc_id % 60
            # (drives the decade grouping key; oracle mirrors the arithmetic)
            F.make_date(
                (F.lit(1970) + F.col("doc_id") % 60).cast("int"), F.lit(1), F.lit(1)
            ).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            # engine metadata-filter field carries the documents `source`
            F.col("source").alias("lang"),
        )

    return _cached_index(
        spark, sf_dir, "", "blacklab_ix",
        lambda m: m.get("annotations") == ["word", "lemma", "pos"]
        and m.get("index_relations") is True,
        pages,
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
        spark, sf_dir, "tagged", "blacklab_ixtag",
        lambda m: m.get("index_tags") == ["sec"],
        make_pages, index_tags=("sec",),
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

    return _cached_index(
        spark, sf_dir, "parallel", "blacklab_ixpar",
        lambda m: m.get("parallel_fields") == ["nl"],
        make_pages,
    )


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

    return _cached_index(
        spark, sf_dir, "relmulti", "blacklab_ixrm",
        lambda m: m.get("index_relations") is True
        and m.get("annotated_input") is True
        and not m.get("parallel_fields"),
        make_pages,
    )


def get_merged_index(spark: SparkSession, sf_dir: str):
    """Two delta segments (documents split at doc_id median) collapsed by
    the posting-level merge (build.merge_segments) — the driver-checked
    end-to-end path for segment merging. Engine doc ids equal
    documents.doc_id: segment A holds the url-rank-lower half (ids 0..h-1),
    segment B builds with base_doc_id=h."""
    from .build import FORMAT_VERSION, add_segment, build_index, merge_segments
    from .query import Index

    key = "mergedix:" + os.path.abspath(sf_dir)
    if key in _IX_CACHE:
        return _IX_CACHE[key]
    tag = os.path.abspath(sf_dir).strip("/").replace("/", "_")
    out = f"/tmp/blacklab_ixmg_{tag}"
    docs = _docs(spark, sf_dir)
    n = docs.count()
    meta_path = f"{out}/segments/merged/meta.json"
    ok = False
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            m = json.load(f)
        ok = m.get("n_docs") == n and m.get("format_version") == FORMAT_VERSION
    if not ok:
        import shutil

        shutil.rmtree(out, ignore_errors=True)

        def pages(d):
            return d.select(
                F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
                F.lit(None).cast("timestamp").alias("warc_ts"),
                F.lit(None).cast("binary").alias("html"),
                "text",
                F.col("source").alias("lang"),
            )

        h = n // 2
        build_index(spark, pages(docs.filter(F.col("doc_id") < h)), out, n_shards=4)
        add_segment(
            spark, pages(docs.filter(F.col("doc_id") >= h)), out, "seg1", n_shards=4
        )
        merge_segments(spark, out)
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

    return _cached_index(
        spark, sf_dir, "sens", "blacklab_ixsens",
        lambda m: m.get("annotated_input") is True
        and m.get("annotations") == ["word"]
        and not m.get("index_relations"),
        make_pages,
    )


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

    return _cached_index(
        spark, sf_dir, "mv", "blacklab_ixmv",
        # multi_value flag required: pre-flag cached builds must be redone
        # so queries see meta.multi_value and apply span dedupe
        lambda m: m.get("annotated_input") is True
        and m.get("annotations") == ["word"]
        and m.get("multi_value") is True
        and not m.get("index_relations")
        and not m.get("parallel_fields"),
        make_pages,
    )


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

    # ---------------- embedding near-dup (dedup family) ----------------
    def dd_emb_neardup(s, d):
        """Nearest same-bucket neighbor per probe vector: candidates come
        from the shared hyperplane-LSH buckets (bucket-equi join), then exact
        cosine re-scoring — O(sum bucket^2), never the O(N^2) crossJoin.
        Probes whose bucket holds no other vector yield no row (the LSH
        recall trade documented for sim_ann_lsh)."""
        buck = _hp_buckets(s, d)
        a = buck.filter(F.col("vec_id") < 50).select(
            F.col("vec_id").alias("a_id"), "bucket"
        )
        cand = a.join(buck.withColumnRenamed("vec_id", "b_id"), "bucket").filter(
            F.col("a_id") != F.col("b_id")
        ).select("a_id", "b_id")
        e = s.read.parquet(f"{d}/embeddings.parquet").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        j = (
            cand.join(e.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va")), "a_id")
            .join(e.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb")), "b_id")
        )
        dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
        na = F.aggregate(F.transform("va", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
        nb = F.aggregate(F.transform("vb", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
        scored = j.select("a_id", "b_id", F.round(dot / F.sqrt(na * nb), 6).alias("cos"))
        w = Window.partitionBy("a_id").orderBy(F.col("cos").desc(), "b_id")
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("a_id").alias("vec_id"), F.col("b_id").alias("nn_id"), "cos")
        )

    q["dd_emb_neardup"] = dd_emb_neardup

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

    # ---------------- dedup ----------------
    def dd_exact(s, d):
        return (
            _docs(s, d).select(F.md5("text").alias("h"))
            .groupBy("h").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "h").limit(20)
        )

    q["dd_exact"] = dd_exact

    def dd_ngram_jaccard(s, d):
        """Exact 3-shingle Jaccard over the LSH candidate pairs (the
        verify stage of the minhash/LSH dedup pipeline — candidates from
        _lsh_cand, never an all-pairs or adjacent-id comparison)."""
        from .rank import rank_head

        pairs = _lsh_cand(s, d).select("doc_a", "doc_b")
        sh = _sh3(s, d)
        cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        inter = (
            pairs.join(sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
            .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s2")), "doc_b")
            .filter(F.col("s") == F.col("s2"))
            .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i"))
        )
        ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
        cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
        scored = (
            inter.join(ca, "doc_a").join(cb, "doc_b")
            .select(
                "doc_a", "doc_b",
                F.round(F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i")), 6).alias("jaccard"),
            )
        )
        return rank_head(
            scored, [("jaccard", False), ("doc_a", True), ("doc_b", True)], 0, 10
        )

    q["dd_ngram_jaccard"] = dd_ngram_jaccard

    def _mh(s, d, n_hashes):
        sh = _sh3(s, d)
        h = sh.select("doc_id", "s", F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("hi"))
        return h.groupBy("doc_id", "hi").agg(
            F.min(F.md5(F.concat(F.col("s"), F.lit("#"), F.col("hi").cast("string")))).alias("mh")
        )

    def dd_minhash_sig(s, d):
        mh = _mh(s, d, 8)
        sig = mh.groupBy("doc_id").agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("hi", "mh"))), lambda x: x["mh"]
                    ),
                    ",",
                )
            ).alias("sig")
        )
        return sig.filter(F.col("doc_id") < 50).select("doc_id", "sig")

    q["dd_minhash_sig"] = dd_minhash_sig

    q["dd_lsh_pairs"] = lambda s, d: _lsh_cand(s, d)

    def dd_simhash(s, d):
        t = _toks(s, d).groupBy("doc_id", "tok").agg(F.count("*").alias("w"))
        # 16-bit token hash from the first 4 md5 hex chars — portable between
        # Spark and DuckDB via instr('0123456789abcdef', ch)
        t = t.withColumn(
            "h16",
            F.expr(
                "(instr('0123456789abcdef', substring(md5(tok),1,1)) - 1) * 4096 + "
                "(instr('0123456789abcdef', substring(md5(tok),2,1)) - 1) * 256 + "
                "(instr('0123456789abcdef', substring(md5(tok),3,1)) - 1) * 16 + "
                "(instr('0123456789abcdef', substring(md5(tok),4,1)) - 1)"
            ).cast("int"),
        )
        bits = (
            t.select("doc_id", "w", "h16",
                     F.explode(F.sequence(F.lit(0), F.lit(15))).alias("j"))
            .withColumn("bit", F.expr("(h16 div cast(pow(2, j) as int)) % 2"))
            .groupBy("doc_id", "j")
            .agg(F.sum(F.when(F.col("bit") == 1, F.col("w")).otherwise(-F.col("w"))).alias("v"))
        )
        sim = bits.groupBy("doc_id").agg(
            F.sum(F.when(F.col("v") > 0, F.expr("cast(pow(2, j) as long)")).otherwise(F.lit(0))).alias("simhash")
        )
        return sim.filter(F.col("doc_id") < 100).select("doc_id", F.col("simhash").cast("long"))

    q["dd_simhash"] = dd_simhash

    # ---------------- similarity search ----------------
    def _emb(s, d):
        return s.read.parquet(f"{d}/embeddings.parquet")

    def sim_cosine_topk(s, d):
        e = _emb(s, d).select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        qv = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
        j = e.crossJoin(F.broadcast(qv)).filter(F.col("vec_id") != 0)
        dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
        nv = F.aggregate(F.transform("v", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x)
        nq = F.aggregate(F.transform("qv", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x)
        scored = j.select("vec_id", F.round(dot / F.sqrt(nv * nq), 6).alias("cos"))
        from .rank import rank_head

        return rank_head(
            scored, [("cos", False), ("vec_id", True)], 0, 10, "rank"
        ).select(F.col("rank").cast("int"), "vec_id", "cos")

    q["sim_cosine_topk"] = sim_cosine_topk

    def sim_ann_lsh(s, d):
        buck = _hp_buckets(s, d)
        qb = buck.filter(F.col("vec_id") == 0).select(F.col("bucket").alias("qbucket"))
        cand = buck.crossJoin(F.broadcast(qb)).filter(
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != 0)
        ).select("vec_id")
        emb = _emb(s, d).select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
        j = cand.join(emb, "vec_id").crossJoin(F.broadcast(qv))
        dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
        nv = F.aggregate(F.transform("v", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x)
        nq = F.aggregate(F.transform("qv", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x)
        scored = j.select("vec_id", F.round(dot / F.sqrt(nv * nq), 6).alias("cos"))
        from .rank import rank_head

        return rank_head(
            scored, [("cos", False), ("vec_id", True)], 0, 5, "rank"
        ).select(F.col("rank").cast("int"), "vec_id", "cos")

    q["sim_ann_lsh"] = sim_ann_lsh

    def sim_ann_multiprobe(s, d):
        """Multi-probe LSH (recall upgrade over single-bucket probing, the
        classic multi-probe move): candidates = vectors whose 6-bit
        hyperplane bucket is within Hamming distance 1 of the query's, then
        exact cosine re-scoring."""
        buck = _hp_buckets(s, d)
        qb = buck.filter(F.col("vec_id") == 0).select(F.col("bucket").alias("qbucket"))
        cand = buck.crossJoin(F.broadcast(qb)).filter(
            (F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= 1)
            & (F.col("vec_id") != 0)
        ).select("vec_id")
        emb = _emb(s, d).select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
        j = cand.join(emb, "vec_id").crossJoin(F.broadcast(qv))
        dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
        nv = F.aggregate(F.transform("v", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x)
        nq = F.aggregate(F.transform("qv", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x)
        scored = j.select("vec_id", F.round(dot / F.sqrt(nv * nq), 6).alias("cos"))
        from .rank import rank_head

        return rank_head(
            scored, [("cos", False), ("vec_id", True)], 0, 10, "rank"
        ).select(F.col("rank").cast("int"), "vec_id", "cos")

    q["sim_ann_multiprobe"] = sim_ann_multiprobe

    def sim_ann_ivf(s, d):
        """IVF-Flat ANN (ann.py): deterministic k-means coarse quantizer ->
        probe the nprobe nearest cells -> exact cosine rescore. Run here with
        nprobe == K (exhaustive), which must EQUAL the brute-force top-k —
        the oracle is the same SQL as sim_cosine_topk, so any quantizer /
        assignment / probe bug surfaces as a value-hash mismatch. The
        recall-vs-nprobe trade at nprobe < K is covered by tests/test_ann.py
        on separated clusters."""
        from . import ann

        emb = _emb(s, d)
        K = 8
        centroids, assignments = ann.build_ivf(emb, k=K, n_iter=2)
        return ann.ivf_search(
            emb, centroids, assignments, query_vec_id=0, nprobe=K, topk=10
        )

    q["sim_ann_ivf"] = sim_ann_ivf

    # ---------------- text analysis ----------------
    def txt_tokcount(s, d):
        """Token counting, both flavors the pipeline brief names:
        whitespace-ish tokens (the toks split) AND a BPE-ish pretokenizer
        regex count (GPT-2-style contraction/letters/digits/punct classes,
        restricted to the RE2-AND-Java-compatible subset so Spark and the
        DuckDB oracle run the identical pattern)."""
        bpe = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+"
        ws = (
            _toks(s, d).filter(F.col("doc_id") < 100)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tok"), F.countDistinct("tok").alias("n_uniq"))
        )
        bp = (
            _docs(s, d).filter(F.col("doc_id") < 100)
            .select(
                "doc_id",
                F.regexp_count(F.lower(F.col("text")), F.lit(bpe))
                .cast("long").alias("n_bpe"),
            )
        )
        return ws.join(bp, "doc_id")

    q["txt_tokcount"] = txt_tokcount

    def txt_quality(s, d):
        return (
            _toks(s, d).filter(F.col("doc_id") < 100)
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_tok"),
                F.round(F.avg(F.length("tok")), 6).alias("avg_len"),
                F.round(
                    F.sum(F.when(F.col("tok").isin(*TOPK_STOP), 1.0).otherwise(0.0)) / F.count("*"), 6
                ).alias("stop_ratio"),
            )
        )

    q["txt_quality"] = txt_quality

    def txt_langid(s, d):
        en = ["the", "a", "of", "and", "to", "in", "is"]
        de = ["der", "die", "das", "und", "ist", "ein"]
        t = _toks(s, d).filter(F.col("doc_id") < 100).groupBy("doc_id").agg(
            F.round(F.sum(F.when(F.col("tok").isin(*en), 1.0).otherwise(0.0)) / F.count("*"), 6).alias("en_score"),
            F.round(F.sum(F.when(F.col("tok").isin(*de), 1.0).otherwise(0.0)) / F.count("*"), 6).alias("de_score"),
        )
        return t.select(
            "doc_id", "en_score", "de_score",
            F.when(F.col("en_score") >= F.col("de_score"), "en").otherwise("de").alias("lang_guess"),
        )

    q["txt_langid"] = txt_langid

    def txt_fingerprint(s, d):
        t = _toks(s, d)
        w = Window.partitionBy("doc_id").orderBy("pos")
        cols = [F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, 5)]
        sh5 = (
            t.select("doc_id", "tok", *cols)
            .filter(F.col("t4").isNotNull())
            .select("doc_id", F.concat_ws(" ", "tok", "t1", "t2", "t3", "t4").alias("s"))
        )
        return (
            sh5.filter(F.col("doc_id") < 100)
            .groupBy("doc_id").agg(F.min(F.md5("s")).alias("fp"))
        )

    q["txt_fingerprint"] = txt_fingerprint

    def txt_decontam(s, d):
        """Benchmark decontamination (training-data pipeline): flag
        training docs sharing any token 3-gram with the held-out eval set
        (docs with doc_id % 97 == 0 stand in for the benchmark). The
        standard shape at scale: explode grams, DISTINCT the (small)
        benchmark gram set, hash equi-join (broadcastable — eval sets are
        tiny next to the corpus), count distinct shared grams per doc.
        No cartesian; training docs with zero overlap survive via the
        left join."""
        t = _toks(s, d).filter(F.col("doc_id") < 300)
        w = Window.partitionBy("doc_id").orderBy("pos")
        g = (
            t.select(
                "doc_id", "tok",
                F.lead("tok", 1).over(w).alias("t1"),
                F.lead("tok", 2).over(w).alias("t2"),
            )
            .filter(F.col("t2").isNotNull())
            .select("doc_id", F.concat_ws(" ", "tok", "t1", "t2").alias("g"))
        )
        bench = (
            g.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
        )
        train = g.filter(F.col("doc_id") % 97 != 0)
        shared = (
            train.join(F.broadcast(bench), "g")
            .groupBy("doc_id")
            .agg(F.countDistinct("g").alias("n_shared"))
        )
        docs = (
            _docs(s, d)
            .filter((F.col("doc_id") < 300) & (F.col("doc_id") % 97 != 0))
            .select("doc_id")
        )
        return docs.join(shared, "doc_id", "left").select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
        )

    q["txt_decontam"] = txt_decontam

    def txt_pii_scrub(s, d):
        """PII scrubbing (training-data pipeline): regex redaction of
        emails / IPv4 addresses with per-doc match counts and the hash of
        the redacted text. The synthetic corpus carries no PII, so a
        deterministic per-doc suffix is appended BEFORE scrubbing so the
        redaction paths actually fire and the oracle hash discriminates a
        broken pattern. Built-in regexp functions only — JVM-side,
        whole-stage codegen, no shuffle (one narrow map over docs)."""
        doc = s.read.parquet(f"{d}/documents.parquet").filter(F.col("doc_id") < 200)
        email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
        ip = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
        t = doc.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
            ).alias("t"),
        )
        red = F.regexp_replace(
            F.regexp_replace(F.col("t"), email, "<EMAIL>"), ip, "<IP>"
        )
        return t.select(
            "doc_id",
            F.regexp_count("t", F.lit(email)).cast("long").alias("n_email"),
            F.regexp_count("t", F.lit(ip)).cast("long").alias("n_ip"),
            F.md5(red).alias("scrub_md5"),
        )

    q["txt_pii_scrub"] = txt_pii_scrub

    def txt_filter_pipeline(s, d):
        """C4-style quality filter + exact-dup drop (training-data
        pipeline): keep docs with >= 20 tokens, mean token length in
        [2, 10], stopword ratio >= 0.01, then drop exact text duplicates
        keeping the lowest doc_id. One hash-agg for stats + one window
        over md5(text) — both doc_id/hash-partitioned, no driver work."""
        stats = (
            _toks(s, d)
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_tok"),
                F.round(F.avg(F.length("tok")), 6).alias("avg_len"),
                F.round(
                    F.sum(
                        F.when(F.col("tok").isin(*TOPK_STOP), 1.0).otherwise(0.0)
                    )
                    / F.count("*"),
                    6,
                ).alias("stop_ratio"),
            )
        )
        doc = s.read.parquet(f"{d}/documents.parquet").select(
            "doc_id", F.md5("text").alias("h")
        )
        w = Window.partitionBy("h").orderBy("doc_id")
        first = doc.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        ).select("doc_id")
        return (
            stats.join(first, "doc_id")
            .filter(
                (F.col("n_tok") >= 20)
                & (F.col("avg_len") >= 2.0)
                & (F.col("avg_len") <= 10.0)
                & (F.col("stop_ratio") >= 0.01)
            )
            .select("doc_id", "n_tok", "avg_len", "stop_ratio")
        )

    q["txt_filter_pipeline"] = txt_filter_pipeline

    def txt_chunk_dedup(s, d):
        """Cross-document boilerplate removal, CCNet-style (Wenzek et al.
        2020 dedupe repeated paragraphs across the corpus before LM
        training): split each doc into non-overlapping 8-token chunks, a
        chunk whose exact text occurs in >= 2 DISTINCT documents is
        boilerplate and dropped; per doc report chunk/dup counts plus the
        md5 of the kept text (chunks re-joined in order) so the oracle
        hash-checks the reconstruction, not just the counts. Plan: one
        doc-partitioned agg to form chunks, one global hash-agg for the
        cross-doc chunk frequency (map-side combine), one shuffle equi-join
        on the chunk string — at 100 TB the frequency table shards by
        chunk hash, no broadcast, no skew (chunks are near-unique by
        construction; the heavy hitters ARE the boilerplate being counted).
        The synthetic corpus has no shared paragraphs, so a deterministic
        8-token boilerplate header is prepended to every doc_id%3==0 doc
        BEFORE chunking (same trick as txt_pii_scrub) so the dup path
        actually fires and the oracle discriminates a broken frequency
        join."""
        bp = "share alike boilerplate footer appears many pages exactly "
        doc = _docs(s, d).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.lit(bp), F.col("text"))
            ).otherwise(F.col("text")).alias("text"),
        )
        arr = F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        )
        toks = doc.select(
            "doc_id", F.posexplode(arr).alias("pos", "tok")
        ).select("doc_id", "tok", F.col("pos").cast("int").alias("pos"))
        ch = (
            toks
            .withColumn("cid", F.floor(F.col("pos") / F.lit(8)).cast("long"))
            .groupBy("doc_id", "cid")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda x: x["tok"],
                    ),
                    " ",
                ).alias("chunk")
            )
        )
        freq = ch.groupBy("chunk").agg(
            F.countDistinct("doc_id").alias("ndocs")
        )
        flagged = ch.join(freq, "chunk").withColumn(
            "dup", F.col("ndocs") >= 2
        )
        return (
            flagged.filter(F.col("doc_id") < 150)
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("long").alias("n_chunks"),
                F.sum(F.col("dup").cast("long")).cast("long").alias("n_dup"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.when(
                                        ~F.col("dup"),
                                        F.struct("cid", "chunk"),
                                    )
                                )
                            ),
                            lambda x: x["chunk"],
                        ),
                        " ",
                    )
                ).alias("kept_md5"),
            )
        )

    q["txt_chunk_dedup"] = txt_chunk_dedup

    def txt_gopher_rep(s, d):
        """Gopher-style within-document repetition signals (Rae et al.
        2021 Table A1: fraction of tokens in the most common token,
        fraction of duplicate n-grams): per doc, top_tok_ratio =
        max token frequency / n_tok and dup3_frac = 1 - distinct
        3-grams / total 3-grams. Two doc-partitioned hash-aggs + one
        window for the 3-grams — all narrow per doc, embarrassingly
        parallel at 100 TB."""
        t = _toks(s, d).filter(F.col("doc_id") < 150)
        per_tok = t.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
        top = per_tok.groupBy("doc_id").agg(
            F.max("c").alias("top_c"), F.sum("c").alias("n_tok")
        )
        w = Window.partitionBy("doc_id").orderBy("pos")
        g3 = (
            t.select(
                "doc_id",
                F.concat_ws(
                    " ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
                ).alias("g"),
                F.lead("tok", 2).over(w).alias("_t2"),
            )
            .filter(F.col("_t2").isNotNull())
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_g3"),
                F.countDistinct("g").alias("n_g3_uniq"),
            )
        )
        return top.join(g3, "doc_id").select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            F.round(F.col("top_c") / F.col("n_tok"), 6).alias("top_tok_ratio"),
            F.round(
                F.lit(1.0) - F.col("n_g3_uniq") / F.col("n_g3"), 6
            ).alias("dup3_frac"),
        )

    q["txt_gopher_rep"] = txt_gopher_rep

    def dd_url_canon(s, d):
        """URL canonicalization + canonical-URL dedup (the first dedup
        pass of every Common-Crawl pipeline runs on normalized URLs
        before any content hashing). Deterministic messy URLs are
        synthesized per doc_id (mixed-case scheme/host, www. prefix,
        explicit :80, utm_* tracking params, unsorted query) so the
        normalization actually fires; canonicalize = lowercase
        scheme+host, strip www. and :80, drop utm_* params, sort the
        remaining query params; then keep the lowest doc_id per canonical
        URL. Built-in string/array functions only — whole-stage codegen,
        one window shuffle on the canonical URL (hash-partitioned; at
        100 TB this is the standard URL-dedup shuffle)."""
        doc = s.read.parquet(f"{d}/documents.parquet").filter(
            F.col("doc_id") < 200
        )
        m = F.col("doc_id") % 13
        raw = F.concat(
            F.lit("HTTP://WWW.Site"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".COM:80/p/"), m.cast("string"),
            F.lit("/?utm_source=cc&b=2&id="), m.cast("string"),
            F.lit("&a=1&utm_medium=web"),
        )
        t = doc.select("doc_id", raw.alias("url"))
        scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
        host0 = F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1))
        host = F.regexp_replace(
            F.regexp_replace(host0, r":80$", ""), r"^www\.", ""
        )
        path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
        qry = F.regexp_extract("url", r"\?([^#]*)", 1)
        keep = F.array_sort(
            F.filter(
                F.split(qry, "&"),
                lambda p: (p != "") & ~p.startswith("utm_"),
            )
        )
        canon = F.concat(
            scheme, F.lit("://"), host, path,
            F.when(
                F.size(keep) > 0, F.concat(F.lit("?"), F.array_join(keep, "&"))
            ).otherwise(F.lit("")),
        )
        c = t.select("doc_id", "url", canon.alias("canon_url"), host.alias("host"))
        w = Window.partitionBy("canon_url").orderBy("doc_id")
        return c.withColumn(
            "is_canonical_rep", F.row_number().over(w) == 1
        ).select("doc_id", "canon_url", "host", "is_canonical_rep")

    q["dd_url_canon"] = dd_url_canon

    def dd_lsh_cluster(s, d):
        """Near-dup CLUSTERING: LSH candidate pairs -> connected components
        -> keep the min doc_id per component (the actionable step every
        production dedup pipeline runs after pair generation — pairs alone
        don't say which doc to drop). Components via min-label propagation
        WITH pointer jumping (lbl <- lbl[lbl] each round), so convergence is
        O(log n) rounds instead of O(component diameter) — the same bound as
        the published large-star/small-star MapReduce algorithm (Kiveris et
        al. 2014) with two hash-partitioned equi-joins per round and no
        driver-side data beyond one convergence scalar. Each round is
        materialized (localCheckpoint) so plan depth stays linear in rounds,
        not exponential — at 100 TB the label table is one row per node in
        a pair (<< corpus) and every join is a plain shuffle join on ids."""
        pairs = (
            _lsh_cand(s, d)
            .filter((F.col("doc_a") < 150) & (F.col("doc_b") < 150))
            .select("doc_a", "doc_b")
        )
        edges = pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).localCheckpoint(eager=True)
        lab = (
            edges.select(F.col("doc_a").alias("node")).distinct()
            .withColumn("lbl", F.col("node"))
            .localCheckpoint(eager=True)
        )
        prev_sum = None
        for _ in range(20):  # >= log2(components) rounds; fixture needs ~3
            nb = (
                edges.join(lab, edges["doc_b"] == lab["node"])
                .groupBy("doc_a").agg(F.min("lbl").alias("nb_lbl"))
            )
            m1 = (
                lab.join(nb, lab["node"] == nb["doc_a"], "left")
                .select(
                    "node",
                    F.least(F.col("lbl"), F.coalesce("nb_lbl", "lbl")).alias("lbl"),
                )
            )
            ptr = m1.select(F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl"))
            lab = (
                m1.join(ptr, m1["lbl"] == ptr["p_node"], "left")
                .select("node", F.coalesce("p_lbl", "lbl").alias("lbl"))
                .localCheckpoint(eager=True)
            )
            cur = lab.agg(F.sum("lbl")).collect()[0][0]  # one scalar/round
            if cur == prev_sum:  # labels only decrease -> stable sum = done
                break
            prev_sum = cur
        docs = _docs(s, d).filter(F.col("doc_id") < 150).select("doc_id")
        out = docs.join(lab, docs["doc_id"] == lab["node"], "left").select(
            "doc_id", F.coalesce("lbl", "doc_id").alias("cluster_id")
        )
        wc = Window.partitionBy("cluster_id")
        return out.select(
            "doc_id",
            "cluster_id",
            F.count("*").over(wc).cast("long").alias("cluster_size"),
            (F.col("doc_id") == F.col("cluster_id")).alias("is_kept"),
        )

    q["dd_lsh_cluster"] = dd_lsh_cluster

    def txt_substr_dedup(s, d):
        """Exact-substring dedup with OVERLAPPING windows (Lee et al. 2021,
        "Deduplicating Training Data Makes Language Models Better": any
        50-token span shared verbatim across docs is training leakage; here
        W=12 at fixture scale). Unlike txt_chunk_dedup's non-overlapping
        chunks, stride-1 windows catch SHIFTED duplicates — the synthetic
        injection prepends doc_id%4 pad tokens before a fixed 12-token
        passage on every doc_id%3==0 doc, so chunk alignment differs per doc
        and ONLY an overlapping-window scan flags them all. Plan: one
        doc-partitioned running window (sliding frame, no self-join), one
        corpus-wide hash-agg on the window text for the frequency (this is
        the suffix-array substitute that actually distributes: the heavy
        shuffle keys by window hash), one equi-join back."""
        W = 12
        doc = _docs(s, d).filter(F.col("doc_id") < 150).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.expr("repeat('pad ', cast(doc_id % 4 as int))"),
                    F.lit("common crawl pipelines must remove verbatim repeated passages before training large models "),
                    F.col("text"),
                ),
            ).otherwise(F.col("text")).alias("text"),
        )
        arr = F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        )
        toks = doc.select(
            "doc_id", F.posexplode(arr).alias("pos", "tok")
        )
        wf = (
            Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, W - 1)
        )
        win = (
            toks
            .select(
                "doc_id", "pos",
                F.array_join(F.collect_list("tok").over(wf), " ").alias("wtxt"),
                F.count("tok").over(wf).alias("_n"),
            )
            .filter(F.col("_n") == W)
            .drop("_n")
        )
        freq = win.groupBy("wtxt").agg(F.countDistinct("doc_id").alias("nd"))
        flagged = win.join(freq, "wtxt").withColumn("dup", F.col("nd") >= 2)
        return flagged.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(F.col("dup").cast("long")).cast("long").alias("n_dup_windows"),
            F.round(
                F.sum(F.col("dup").cast("double")) / F.count("*"), 6
            ).alias("dup_frac"),
        )

    q["txt_substr_dedup"] = txt_substr_dedup

    def web_pagerank(s, d):
        """Link-graph extraction + PageRank over the synthesized web corpus:
        deterministic anchor tags are rendered INTO an html column per doc
        (doc u links to (7u+j)%100 for j=1..u%3+1, self-links included in
        the html), the edge list is re-extracted with regexp_extract_all —
        so the oracle, which generates edges closed-form, actually checks
        the HTML link extraction — then 5 power iterations of
        r = 0.15/N + 0.85*sum(r_in/outdeg) (dangling mass dropped; this
        synth graph has no dangling nodes). Each iteration is one equi-join
        edges⋈ranks + one hash-agg on dst — the canonical distributed
        PageRank step; ranks is one row per node, edges pre-joined with
        outdeg once. Fixed iteration count keeps plan depth bounded; at
        100 TB you'd localCheckpoint per iteration, here 5 stacked joins
        stay well under codegen limits."""
        N, DAMP, ITERS = 100, 0.85, 5
        doc = _docs(s, d).filter(F.col("doc_id") < N)
        anchors = F.aggregate(
            F.filter(
                F.sequence(F.lit(1), F.lit(3)),
                lambda j: j <= (F.col("doc_id") % 3 + 1).cast("int"),
            ),
            F.lit(""),
            lambda acc, j: F.concat(
                acc,
                F.lit('<a href="/doc/'),
                ((F.col("doc_id") * 7 + j) % N).cast("string"),
                F.lit('">link</a>'),
            ),
        )
        html = doc.select(
            "doc_id",
            F.concat(
                F.lit("<html><body><p>"), F.substring("text", 1, 40),
                F.lit("</p>"), anchors, F.lit("</body></html>"),
            ).alias("html"),
        )
        edges = (
            html.select(
                F.col("doc_id").alias("src"),
                F.explode(
                    F.regexp_extract_all(
                        "html", F.lit(r'<a href="/doc/([0-9]+)"'), F.lit(1)
                    )
                ).alias("dst_s"),
            )
            .select("src", F.col("dst_s").cast("long").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        out = edges.groupBy("src").agg(F.count("*").alias("odeg"))
        ew = edges.join(out, "src")
        nodes = doc.select(F.col("doc_id").alias("node"))
        ranks = nodes.withColumn("r", F.lit(1.0 / N))
        for _ in range(ITERS):
            contrib = (
                ew.join(ranks, ew["src"] == ranks["node"])
                .groupBy("dst").agg(F.sum(F.col("r") / F.col("odeg")).alias("c"))
            )
            ranks = nodes.join(
                contrib, nodes["node"] == contrib["dst"], "left"
            ).select(
                "node",
                (F.lit((1.0 - DAMP) / N) + F.lit(DAMP) * F.coalesce("c", F.lit(0.0))).alias("r"),
            )
        ranked = ranks.select(
            F.col("node").alias("doc_id"), F.round("r", 6).alias("pagerank")
        )
        from .rank import ranked_all

        return ranked_all(
            ranked, [("pagerank", False), ("doc_id", True)], "pr_rank"
        ).select(F.col("pr_rank").cast("int"), "doc_id", "pagerank")

    q["web_pagerank"] = web_pagerank

    # ---------------- events ----------------
    def ev_window_counts(s, d):
        e = s.read.parquet(f"{d}/events.parquet")
        return (
            e.groupBy(F.window("ts", "5 minutes").getField("start").alias("ws"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sv"))
        )

    q["ev_window_counts"] = ev_window_counts

    def ev_sessionize(s, d):
        e = s.read.parquet(f"{d}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        secs = lambda c: c.cast("timestamp").cast("double")  # noqa: E731
        gap = secs(F.col("ts")) - secs(F.lag("ts").over(w))
        return (
            e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0))
            .groupBy("user_id").agg(F.sum("new_sess").cast("long").alias("n_sessions"))
        )

    q["ev_sessionize"] = ev_sessionize

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
    o["txt_decontam"] = f"""
WITH {SQL_TOKS},
g AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS g
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
  WHERE a.doc_id < 300
),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
shared AS (
  SELECT doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_shared
  FROM g JOIN bench USING (g)
  WHERE doc_id % 97 <> 0
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.n_shared, 0) AS n_shared,
       coalesce(s.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN shared s USING (doc_id)
WHERE d.doc_id < 300 AND d.doc_id % 97 <> 0
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
    o["dd_emb_neardup"] = f"""
WITH {SQL_HP},
a AS (SELECT vec_id AS a_id, bucket FROM buck WHERE vec_id < 50),
cand AS (
  SELECT a.a_id, b.vec_id AS b_id FROM a JOIN buck b USING (bucket)
  WHERE b.vec_id <> a.a_id
),
norms AS (SELECT vec_id, sum(v * v) AS n FROM e GROUP BY 1),
dots AS (
  SELECT c.a_id, c.b_id, sum(ea.v * eb.v) AS dot
  FROM cand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id AND eb.i = ea.i
  GROUP BY 1, 2
)
SELECT a_id AS vec_id, b_id AS nn_id, cos FROM (
  SELECT a_id, b_id, round(dot / sqrt(na.n * nb.n), 6) AS cos,
         row_number() OVER (PARTITION BY a_id ORDER BY round(dot / sqrt(na.n * nb.n), 6) DESC, b_id) AS rn
  FROM dots JOIN norms na ON na.vec_id = a_id JOIN norms nb ON nb.vec_id = b_id
) WHERE rn = 1
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

    o["dd_exact"] = """
SELECT h, CAST(n AS BIGINT) AS n FROM (
  SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1
) ORDER BY n DESC, h LIMIT 20
"""
    o["dd_ngram_jaccard"] = f"""
WITH {SQL_TOKS}, {SQL_SH3}, {SQL_LSH_CAND},
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(i * 1.0 / (ca.n + cb.n - i), 6) AS jaccard
FROM inter
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
ORDER BY jaccard DESC, doc_a, doc_b LIMIT 10
"""
    o["dd_minhash_sig"] = f"""
WITH {SQL_TOKS}, {SQL_SH3},
mh AS (
  SELECT doc_id, h.i AS hi, min(md5(s || '#' || h.i)) AS mh
  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS i) h
  GROUP BY 1, 2
)
SELECT doc_id, md5(string_agg(mh, ',' ORDER BY hi)) AS sig
FROM mh WHERE doc_id < 50 GROUP BY doc_id
"""
    o["dd_lsh_pairs"] = f"""
WITH {SQL_TOKS}, {SQL_SH3}, {SQL_LSH_CAND}
SELECT doc_a, doc_b, CAST(shared_bands AS BIGINT) AS shared_bands FROM cand
"""
    o["dd_simhash"] = f"""
WITH {SQL_TOKS},
tokh AS (
  SELECT doc_id, tok, count(*) AS w,
    (instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096 +
    (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256 +
    (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16 +
    (instr('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) AS h16
  FROM toks GROUP BY doc_id, tok
),
bits AS (
  SELECT doc_id, b.j AS j,
         sum(CASE WHEN (h16 // CAST(2 ** b.j AS INT)) % 2 = 1 THEN w ELSE -w END) AS v
  FROM tokh CROSS JOIN (SELECT unnest(range(16)) AS j) b
  GROUP BY 1, 2
)
SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits WHERE doc_id < 100 GROUP BY doc_id
"""

    sql_cos_core = """
e AS (
  SELECT vec_id, CAST(u.v AS DOUBLE) AS v, u.i AS i FROM (
    SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
    FROM embeddings
  ) u(vec_id, v, i)
),
qv AS (SELECT i, v FROM e WHERE vec_id = 0)
"""
    o["sim_cosine_topk"] = f"""
WITH {sql_cos_core},
dots AS (
  SELECT e.vec_id, sum(e.v * qv.v) AS dot, sum(e.v * e.v) AS nv
  FROM e JOIN qv USING (i) WHERE e.vec_id <> 0 GROUP BY 1
),
qn AS (SELECT sum(v * v) AS nq FROM qv)
SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank, vec_id, cos FROM (
  SELECT vec_id, round(dot / sqrt(nv * nq), 6) AS cos FROM dots, qn
) QUALIFY rank <= 10
"""
    # IVF with nprobe == K probes every cell == exhaustive == brute force
    o["sim_ann_ivf"] = o["sim_cosine_topk"]
    o["sim_ann_lsh"] = f"""
WITH {SQL_HP},
qv AS (SELECT i, v FROM e WHERE vec_id = 0),
qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
cand AS (SELECT b.vec_id FROM buck b, qb WHERE b.bucket = qb.bucket AND b.vec_id <> 0),
dots AS (
  SELECT e.vec_id, sum(e.v * qv.v) AS dot, sum(e.v * e.v) AS nv
  FROM e JOIN qv USING (i) WHERE e.vec_id IN (SELECT vec_id FROM cand) GROUP BY 1
),
qn AS (SELECT sum(v * v) AS nq FROM qv)
SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank, vec_id, cos FROM (
  SELECT vec_id, round(dot / sqrt(nv * nq), 6) AS cos FROM dots, qn
) QUALIFY rank <= 5
"""

    o["sim_ann_multiprobe"] = f"""
WITH {SQL_HP},
qv AS (SELECT i, v FROM e WHERE vec_id = 0),
qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
cand AS (
  SELECT b.vec_id FROM buck b, qb
  WHERE bit_count(xor(b.bucket, qb.bucket)) <= 1 AND b.vec_id <> 0
),
dots AS (
  SELECT e.vec_id, sum(e.v * qv.v) AS dot, sum(e.v * e.v) AS nv
  FROM e JOIN qv USING (i) WHERE e.vec_id IN (SELECT vec_id FROM cand) GROUP BY 1
),
qn AS (SELECT sum(v * v) AS nq FROM qv)
SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank, vec_id, cos FROM (
  SELECT vec_id, round(dot / sqrt(nv * nq), 6) AS cos FROM dots, qn
) QUALIFY rank <= 10
"""
    bpe_sql = "''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s'']+"
    o["txt_tokcount"] = f"""
WITH {SQL_TOKS},
ws AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         CAST(count(DISTINCT tok) AS BIGINT) AS n_uniq
  FROM toks WHERE doc_id < 100 GROUP BY 1
)
SELECT ws.doc_id, ws.n_tok, ws.n_uniq,
       CAST(length(regexp_extract_all(lower(d.text), '{bpe_sql}')) AS BIGINT) AS n_bpe
FROM ws JOIN documents d USING (doc_id)
"""
    stop_list = ", ".join(f"'{t}'" for t in TOPK_STOP)
    o["txt_quality"] = f"""
WITH {SQL_TOKS}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
  round(avg(CAST(length(tok) AS DOUBLE)), 6) AS avg_len,
  round(sum(CASE WHEN tok IN ({stop_list}) THEN 1.0 ELSE 0.0 END) / count(*), 6) AS stop_ratio
FROM toks WHERE doc_id < 100 GROUP BY 1
"""
    o["txt_langid"] = f"""
WITH {SQL_TOKS},
t AS (
  SELECT doc_id,
    round(sum(CASE WHEN tok IN ('the','a','of','and','to','in','is') THEN 1.0 ELSE 0.0 END) / count(*), 6) AS en_score,
    round(sum(CASE WHEN tok IN ('der','die','das','und','ist','ein') THEN 1.0 ELSE 0.0 END) / count(*), 6) AS de_score
  FROM toks WHERE doc_id < 100 GROUP BY 1
)
SELECT doc_id, en_score, de_score,
       CASE WHEN en_score >= de_score THEN 'en' ELSE 'de' END AS lang_guess
FROM t
"""
    o["txt_fingerprint"] = f"""
WITH {SQL_TOKS},
sh5 AS (
  SELECT doc_id, s FROM (
    SELECT doc_id,
      tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w || ' ' ||
      lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w AS s
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE s IS NOT NULL
)
SELECT doc_id, min(md5(s)) AS fp FROM sh5 WHERE doc_id < 100 GROUP BY 1
"""

    o["txt_pii_scrub"] = r"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(t, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ip,
  md5(regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g')) AS scrub_md5
FROM t
"""
    stop_list_f = ", ".join(f"'{t}'" for t in TOPK_STOP)
    o["txt_filter_pipeline"] = f"""
WITH {SQL_TOKS},
stats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
    round(avg(CAST(length(tok) AS DOUBLE)), 6) AS avg_len,
    round(sum(CASE WHEN tok IN ({stop_list_f}) THEN 1.0 ELSE 0.0 END) / count(*), 6) AS stop_ratio
  FROM toks GROUP BY 1
),
first AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
)
SELECT s.doc_id, s.n_tok, s.avg_len, s.stop_ratio
FROM stats s JOIN first f ON s.doc_id = f.doc_id
WHERE s.n_tok >= 20 AND s.avg_len BETWEEN 2.0 AND 10.0 AND s.stop_ratio >= 0.01
"""
    o["txt_chunk_dedup"] = r"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN 'share alike boilerplate footer appears many pages exactly ' || text
              ELSE text END AS text
  FROM documents
), raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS arr FROM docs2
), tok0 AS (
  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS i FROM raw
), toks AS (
  SELECT doc_id, tok, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT) AS pos
  FROM tok0 WHERE tok <> ''
), ch AS (
  SELECT doc_id, CAST(floor(pos / 8) AS BIGINT) AS cid,
         string_agg(tok, ' ' ORDER BY pos) AS chunk
  FROM toks GROUP BY 1, 2
), freq AS (
  SELECT chunk, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1
), fl AS (
  SELECT ch.doc_id, ch.cid, ch.chunk, freq.ndocs >= 2 AS dup
  FROM ch JOIN freq USING (chunk)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  md5(coalesce(string_agg(CASE WHEN NOT dup THEN chunk END, ' ' ORDER BY cid), '')) AS kept_md5
FROM fl WHERE doc_id < 150 GROUP BY 1
"""
    o["txt_gopher_rep"] = f"""
WITH {SQL_TOKS},
pt AS (
  SELECT doc_id, tok, count(*) AS c FROM toks WHERE doc_id < 150 GROUP BY 1, 2
), top AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok FROM pt GROUP BY 1
), g AS (
  SELECT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS g,
         lead(tok, 2) OVER w AS t2
  FROM toks WHERE doc_id < 150 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), g3 AS (
  SELECT doc_id, count(*) AS n_g3, count(DISTINCT g) AS n_g3_uniq
  FROM g WHERE t2 IS NOT NULL GROUP BY 1
)
SELECT t.doc_id, CAST(t.n_tok AS BIGINT) AS n_tok,
  round(CAST(t.top_c AS DOUBLE) / t.n_tok, 6) AS top_tok_ratio,
  round(1.0 - CAST(g3.n_g3_uniq AS DOUBLE) / g3.n_g3, 6) AS dup3_frac
FROM top t JOIN g3 USING (doc_id)
"""
    o["dd_url_canon"] = r"""
WITH t AS (
  SELECT doc_id,
    'HTTP://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM:80/p/' ||
    CAST(doc_id % 13 AS VARCHAR) || '/?utm_source=cc&b=2&id=' ||
    CAST(doc_id % 13 AS VARCHAR) || '&a=1&utm_medium=web' AS url
  FROM documents WHERE doc_id < 200
), c AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
    regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':80$', ''),
      '^www\.', '') AS host,
    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
    regexp_extract(url, '\?([^#]*)', 1) AS qry
  FROM t
), c2 AS (
  SELECT doc_id, url, host,
    scheme || '://' || host || path ||
    CASE WHEN len(keep) > 0 THEN '?' || array_to_string(keep, '&') ELSE '' END AS canon_url
  FROM (
    SELECT *, list_sort(list_filter(string_split(qry, '&'),
                                    x -> x <> '' AND NOT starts_with(x, 'utm_'))) AS keep
    FROM c
  )
)
SELECT doc_id, canon_url, host,
  row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) = 1 AS is_canonical_rep
FROM c2
"""
    o["dd_lsh_cluster"] = f"""
WITH RECURSIVE {SQL_TOKS}, {SQL_SH3}, {SQL_LSH_CAND},
pairs AS (SELECT doc_a AS a, doc_b AS b FROM cand WHERE doc_a < 150 AND doc_b < 150),
edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS cid FROM reach GROUP BY a),
asg AS (
  SELECT d.doc_id, coalesce(c.cid, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id) WHERE d.doc_id < 150
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       doc_id = cluster_id AS is_kept
FROM asg
"""
    o["txt_substr_dedup"] = r"""
WITH docs2 AS (
  SELECT doc_id, CASE WHEN doc_id % 3 = 0
    THEN repeat('pad ', CAST(doc_id % 4 AS INT)) ||
         'common crawl pipelines must remove verbatim repeated passages before training large models ' || text
    ELSE text END AS text
  FROM documents WHERE doc_id < 150
), raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS arr FROM docs2
), tok0 AS (
  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS i FROM raw
), toks AS (
  SELECT doc_id, tok, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT) AS pos
  FROM tok0 WHERE tok <> ''
), win AS (
  SELECT doc_id,
    string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS wtxt,
    count(*) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS n
  FROM toks
), w2 AS (SELECT doc_id, wtxt FROM win WHERE n = 12),
freq AS (SELECT wtxt, count(DISTINCT doc_id) AS nd FROM w2 GROUP BY 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
  round(sum(CASE WHEN nd >= 2 THEN 1.0 ELSE 0.0 END) / count(*), 6) AS dup_frac
FROM w2 JOIN freq USING (wtxt) GROUP BY 1
"""
    pr_sql = """
WITH doc100 AS (SELECT doc_id FROM documents WHERE doc_id < 100),
links AS (
  SELECT d.doc_id AS src, (d.doc_id * 7 + j.j) % 100 AS dst
  FROM doc100 d CROSS JOIN (SELECT unnest(range(1, 4)) AS j) j
  WHERE j.j <= d.doc_id % 3 + 1 AND (d.doc_id * 7 + j.j) % 100 <> d.doc_id
),
edges AS (SELECT DISTINCT src, dst FROM links),
outd AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1),
r0 AS (SELECT doc_id AS node, 0.01 AS r FROM doc100)"""
    for _t in range(1, 6):
        pr_sql += f""",
r{_t} AS (
  SELECT n.doc_id AS node,
         0.0015 + 0.85 * coalesce(sum(r{_t - 1}.r / o.odeg), 0) AS r
  FROM doc100 n
  LEFT JOIN edges e ON e.dst = n.doc_id
  LEFT JOIN r{_t - 1} ON r{_t - 1}.node = e.src
  LEFT JOIN outd o ON o.src = e.src
  GROUP BY 1
)"""
    o["web_pagerank"] = pr_sql + """
SELECT CAST(row_number() OVER (ORDER BY round(r, 6) DESC, node) AS INT) AS pr_rank,
       node AS doc_id, round(r, 6) AS pagerank
FROM r5
"""
    o["ev_window_counts"] = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type,
       CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sv
FROM events GROUP BY 1, 2
"""
    o["ev_sessionize"] = """
WITH o AS (
  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events
)
SELECT user_id,
       CAST(sum(CASE WHEN pts IS NULL OR ts - pts > INTERVAL '30 minutes' THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM o GROUP BY 1
"""
    return o
