"""Results pipeline: post-hit relational ops (SURVEY.md §2.4).

The reference's fluent Search tree (engine/.../searches/SearchHits.java:32-128,
SearchDocs.java:25-81) composes sort/sample/filter/window/group/facet over
hits and docs; every one of those is a DataFrame transformation here — the
reference's HitGroupsTokenFrequencies "fast path" (skip hit materialization,
aggregate straight off the forward index, results/HitGroupsTokenFrequencies.java:8-13)
is simply what Spark's hash aggregate does naturally.

All functions take (index, hits_df, ...) and return DataFrames; hits frames
are (doc_id long, start int, end int).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .query import Index
from .rank import rank_head, ranked_all  # noqa: F401  (re-export)

def _hit_text_col(ix: Index, hits: DataFrame, part: str, context: int, fold: bool):
    """Join token arrays and build the context string for `part`:
    'match' | 'before' | 'after' (reference: HitPropertyHitText.java:13-16,
    HitPropertyBeforeHit.java:16-19, HitPropertyAfterHit.java:16-19)."""
    col = "tokens_fold" if fold else "tokens"
    j = hits.join(ix.docs.select("doc_id", F.col(col).alias("_toks")), "doc_id")
    if part == "match":
        c = F.slice(F.col("_toks"), F.col("start") + 1, F.col("end") - F.col("start"))
    elif part == "before":
        first = F.greatest(F.lit(1), F.col("start") + 1 - context)
        # reference sorts before-context right-to-left; keep natural order, doc
        # divergence: we sort on the reversed token sequence like the reference
        c = F.reverse(F.slice(F.col("_toks"), first, F.col("start") + 1 - first))
    elif part == "after":
        c = F.slice(
            F.col("_toks"),
            F.col("end") + 1,
            F.least(F.lit(context), F.size("_toks") - F.col("end")),
        )
    else:
        raise ValueError(part)
    return j.withColumn("_key", F.array_join(c, " ")).drop("_toks")


def _ctx_collation_key(ix: Index, hits: DataFrame, part: str, context: int):
    """Insensitive collation sort key for a hit's context (reference:
    HitPropertyContextBase.java:336-338 sorts via the terms dict's collator
    positions). Our sort_pos_i is the dense rank over (term_fold, term)
    (build.py terms stage), so comparing token sequences elementwise by the
    (fold, surface) pair IS comparing sort_pos_i sequences — no dict join
    per hit needed. Encoding: token -> fold + \\x01 + surface, joined with
    \\x00; byte order over the encoded string equals elementwise pair order
    because tokens contain no control characters (TOKEN_RE word chars) and
    \\x00 < \\x01 < every token byte."""
    j = hits.join(
        ix.docs.select(
            "doc_id", F.col("tokens").alias("_t"), F.col("tokens_fold").alias("_f")
        ),
        "doc_id",
    )

    def part_slice(col):
        if part == "match":
            return F.slice(col, F.col("start") + 1, F.col("end") - F.col("start"))
        if part == "before":
            first = F.greatest(F.lit(1), F.col("start") + 1 - context)
            # reference compares before-context right-to-left
            return F.reverse(F.slice(col, first, F.col("start") + 1 - first))
        if part == "after":
            return F.slice(
                col, F.col("end") + 1,
                F.least(F.lit(context), F.size(col) - F.col("end")),
            )
        raise ValueError(part)

    pair = F.zip_with(
        part_slice(F.col("_f")), part_slice(F.col("_t")),
        lambda f, s: F.concat(f, F.lit("\x01"), s),
    )
    return j.withColumn("_key", F.array_join(pair, "\x00")).drop("_t", "_f")


def sort_hits(
    ix: Index,
    hits: DataFrame,
    by: str = "match",
    context: int = 5,
    fold: bool = True,
    descending: bool = False,
) -> DataFrame:
    """Hits.sort(HitProperty) (reference results/HitsAbstract.java:279-293).
    by: 'match' | 'before' | 'after' | 'doc' | 'position'
    | 'capture:<name>' (sort by a capture group's text,
      HitPropertyCaptureGroup.java) | 'metadata:<field>' (sort by a doc
      metadata field, HitPropertyDocumentStoredField.java)
    | a LIST of the above — compared property by property in order, the
      reference's HitPropertyMultiple.java.

    Context sorts are collation-correct: fold=True orders by the terms
    dict's INSENSITIVE collator positions (sort_pos_i ~ (fold, surface)
    pairs — see _ctx_collation_key), fold=False by the sensitive order
    (sort_pos_s = rank over surface term, which plain string order realizes
    directly). Capture sorts use the same collation keys over the captured
    span; metadata sorts join the field from the docs table (one broadcast-
    or sort-merge equijoin on doc_id, no extra shuffle of the hit set)."""
    props = list(by) if isinstance(by, (list, tuple)) else [by]
    hits, key_cols = hits, []
    for i, prop in enumerate(props):
        hits, kc = _one_sort_key(ix, hits, prop, context, fold, f"_sk{i}")
        key_cols.extend(kc)
    keys = [F.col(c) for c in key_cols] + [
        F.col("doc_id"), F.col("start"), F.col("end"),
    ]
    if descending:
        keys = [k.desc() for k in keys]
    out = hits.orderBy(*keys)
    return out.drop(*[c for c in key_cols if c in out.columns])


def _one_sort_key(
    ix: Index, hits: DataFrame, by: str, context: int, fold: bool, name: str
):
    """Attach ONE HitProperty's sort key as column `name`; returns
    (df, [key column names]). 'doc'/'position' contribute no extra column —
    the canonical (doc_id, start, end) tiebreak always applies last."""
    if by in ("doc", "position"):
        return hits, []
    if by.startswith("metadata:"):
        fld = by.split(":", 1)[1]
        return (
            hits.join(ix.docs.select("doc_id", F.col(fld).alias(name)), "doc_id"),
            [name],
        )
    if by.startswith("capture:"):
        cap = by.split(":", 1)[1]
        # point the context-key machinery at the CAPTURED span
        tmp = (
            hits.withColumnRenamed("start", "_hs")
            .withColumnRenamed("end", "_he")
            .withColumnRenamed(f"{cap}_start", "start")
            .withColumnRenamed(f"{cap}_end", "end")
        )
        tmp = (
            _ctx_collation_key(ix, tmp, "match", context)
            if fold
            else _hit_text_col(ix, tmp, "match", context, fold=False)
        )
        out = (
            tmp.withColumnRenamed("start", f"{cap}_start")
            .withColumnRenamed("end", f"{cap}_end")
            .withColumnRenamed("_hs", "start")
            .withColumnRenamed("_he", "end")
            .withColumnRenamed("_key", name)
        )
        return out, [name]
    out = (
        _ctx_collation_key(ix, hits, by, context)
        if fold
        else _hit_text_col(ix, hits, by, context, fold=False)
    )
    return out.withColumnRenamed("_key", name), [name]


def window_hits(hits: DataFrame, first: int, n: int) -> DataFrame:
    """Hits.window(first, n) (reference HitsAbstract.java:157); hit order is
    the canonical (doc_id, start, end). Small windows take the
    TakeOrderedAndProject path (no full sort, no single-partition window);
    deep pagination falls back to the range-partition rank."""
    keys = ["doc_id", "start", "end"]
    if first + n <= 100_000:
        return rank_head(hits, keys, first, n)
    r = ranked_all(hits, keys, "_rn")
    return r.filter((F.col("_rn") > first) & (F.col("_rn") <= first + n)).drop("_rn")


def sort_groups(
    groups: DataFrame, by: str = "size", descending: bool = True
) -> DataFrame:
    """HitGroups.sort (reference searches/SearchHitGroups.java sortBy;
    HitGroupPropertySize / HitGroupPropertyIdentity): 'size' orders by
    group size (ties by identity), 'identity' by the group key."""
    if by == "size":
        # identity tiebreaker stays ASCENDING regardless of `descending`,
        # mirroring window_groups' key construction — paging a group list
        # must agree with the full sort on size ties
        primary = F.col("size").desc() if descending else F.col("size")
        return groups.orderBy(primary, F.col("group_key"))
    elif by == "identity":
        k = F.col("group_key")
        return groups.orderBy(k.desc() if descending else k)
    raise ValueError(f"sort_groups by must be size|identity, got {by!r}")


def filter_groups(groups: DataFrame, min_size: int = 1) -> DataFrame:
    """HitGroups.filter by minimum group size (reference
    searches/SearchHitGroupsFiltered)."""
    return groups.filter(F.col("size") >= min_size)


def window_groups(
    groups: DataFrame, first: int, n: int, by: str = "size",
    descending: bool = True,
) -> DataFrame:
    """HitGroups.window over the sorted group list (reference
    searches/SearchHitGroupsWindow): TakeOrderedAndProject for shallow
    windows, range-partition rank for deep pagination — same plan shape as
    window_hits, no single-partition WindowExec."""
    if by == "size":
        keys = [("size", not descending), ("group_key", True)]
    else:
        keys = [("group_key", not descending)]
    if first + n <= 100_000:
        return rank_head(groups, keys, first, n)
    r = ranked_all(groups, keys, "_rn")
    return r.filter((F.col("_rn") > first) & (F.col("_rn") <= first + n)).drop("_rn")


def sample_hits(hits: DataFrame, fraction: float | None = None, n: int | None = None, seed: int = 42) -> DataFrame:
    """Hits.sample (reference HitsAbstract.java:213-255, SampleParameters
    fixed-count or percentage, seeded)."""
    if fraction is not None:
        return hits.sample(fraction=fraction, seed=seed)
    assert n is not None
    return (
        hits.orderBy(F.xxhash64("doc_id", "start", "end", F.lit(seed)))
        .limit(n)
    )


def group_hits_by_text(
    ix: Index,
    hits: DataFrame,
    part: str = "match",
    context: int = 5,
    fold: bool = True,
    max_hits_per_group: int = 10,
) -> DataFrame:
    """HitGroups.fromHits keyed by hit text (reference results/HitGroups.java:
    54-118): group sizes plus up to N stored hits per group."""
    h = _hit_text_col(ix, hits, part, context, fold)
    return h.groupBy(F.col("_key").alias("group_key")).agg(
        F.count("*").alias("size"),
        F.slice(
            F.sort_array(F.collect_list(F.struct("doc_id", "start", "end"))),
            1,
            max_hits_per_group,
        ).alias("sample_hits"),
    )


def group_hits_by_capture(
    ix: Index, hits: DataFrame, name: str, fold: bool = True
) -> DataFrame:
    """Group hits by a capture group's text (reference:
    HitPropertyCaptureGroup.java:17-20) — slice the token array at the
    captured span's positions."""
    col = "tokens_fold" if fold else "tokens"
    j = hits.join(ix.docs.select("doc_id", F.col(col).alias("_toks")), "doc_id")
    key = F.array_join(
        F.slice(
            F.col("_toks"), F.col(f"{name}_start") + 1,
            F.col(f"{name}_end") - F.col(f"{name}_start"),
        ),
        " ",
    )
    return j.groupBy(key.alias("group_key")).agg(F.count("*").alias("size"))


def group_hits_by_metadata(ix: Index, hits: DataFrame, field: str) -> DataFrame:
    """Group hits by a document metadata field (reference:
    HitPropertyDocumentStoredField.java:7-11)."""
    d = ix.docs.select("doc_id", field)
    return hits.join(d, "doc_id").groupBy(field).agg(F.count("*").alias("size"))


def doc_results(hits: DataFrame) -> DataFrame:
    """Hits -> per-document hit counts (reference results/DocResults.java:43-91)."""
    return hits.groupBy("doc_id").agg(F.count("*").alias("n_hits"))


def facets(ix: Index, doc_ids: DataFrame, fields: list[str]) -> DataFrame:
    """Doc counts per metadata value(s) (reference searches/SearchFacets.java)."""
    d = doc_ids.select("doc_id").dropDuplicates().join(ix.docs, "doc_id")
    return d.groupBy(*fields).agg(F.countDistinct("doc_id").alias("n_docs"))


def collocations(
    ix: Index, hits: DataFrame, context: int = 5, fold: bool = True
) -> DataFrame:
    """Context-window term frequencies around hits (reference
    searches/SearchHits.collocations:128 via results/Contexts.java:64-116):
    explode the [start-k, end+k) window minus the match itself."""
    col = "tokens_fold" if fold else "tokens"
    j = hits.join(ix.docs.select("doc_id", col), "doc_id")
    first = F.greatest(F.lit(1), F.col("start") + 1 - context)
    before = F.slice(F.col(col), first, F.col("start") + 1 - first)
    after = F.slice(
        F.col(col),
        F.col("end") + 1,
        F.least(F.lit(context), F.size(col) - F.col("end")),
    )
    return (
        j.select(F.explode(F.concat(before, after)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )


def filter_hits_by_metadata(ix: Index, hits: DataFrame, predicate: str) -> DataFrame:
    """SpanQueryFiltered (reference SpanQueryFiltered.java:21-24): keep hits
    whose document matches a metadata predicate (SQL expression string)."""
    d = ix.docs.filter(F.expr(predicate)).select("doc_id")
    return hits.join(d, "doc_id", "left_semi")


def concordances(
    ix: Index, hits: DataFrame, context_chars: int = 40, highlight: bool = False
) -> DataFrame:
    """Character-exact concordances from the stored text (reference
    results/Concordances.java reads the content store; ours is the docs.text
    column + the token->char offset map stored by store_offsets=True).
    Falls back to the KWIC token-window approximation when the index was
    built without offsets. highlight=True adds a `snippet` column with the
    match wrapped in <hl>…</hl> (reference: XmlHighlighter)."""
    has_offsets = all(s.meta.get("store_offsets") for s in ix.segments)
    if not has_offsets:
        out = ix.kwic(hits, context=max(1, context_chars // 6))
        if highlight:
            out = out.withColumn(
                "snippet",
                F.concat(
                    "left", F.lit(" <hl>"), "match", F.lit("</hl> "), "right"
                ),
            )
        return out
    d = ix.docs.select("doc_id", "text", "tokens", "tok_offs")
    j = hits.join(d, "doc_id")
    # char span of the hit: [offs[start], offs[end-1] + len(token[end-1]))
    cs = F.element_at("tok_offs", F.col("start") + 1)
    ce = F.element_at("tok_offs", F.col("end")) + F.length(
        F.element_at("tokens", F.col("end"))
    )
    left_from = F.greatest(F.lit(0), cs - context_chars)
    out = j.select(
        "doc_id", "start", "end",
        F.substring(F.col("text"), left_from + 1, cs - left_from).alias("left"),
        F.substring(F.col("text"), cs + 1, ce - cs).alias("match"),
        F.substring(F.col("text"), ce + 1, F.lit(context_chars)).alias("right"),
    )
    if highlight:
        out = out.withColumn(
            "snippet",
            F.concat("left", F.lit("<hl>"), "match", F.lit("</hl>"), "right"),
        )
    return out


def group_hits_by_decade(ix: Index, hits: DataFrame, ts_field: str = "warc_ts") -> DataFrame:
    """Hit counts per decade of the containing document's timestamp field
    (reference: HitPropertyDocumentDecade.java:10-14)."""
    d = ix.docs.select("doc_id", ts_field)
    decade = (F.floor(F.year(ts_field) / 10) * 10).cast("long").alias("decade")
    return hits.join(d, "doc_id").groupBy(decade).agg(F.count("*").alias("size"))
