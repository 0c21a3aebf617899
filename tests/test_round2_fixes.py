"""Round-2 regression tests: ADVICE.md fixes + global-window replacement.

Covers:
- consecutive any-token gaps accumulate ('"a" [] [] "b"' is a {2,2} gap)
- block-max bound is computed over quantized dl (upper-bound property)
- term_freqs(fold=True) sums across segments (disjoint doc sets add)
- capture columns ride through expand/or_spans/and_spans
- compact() fails fast on store_text=False segments; works when the
  original pages frame is passed
- rank_head / ranked_all agree with each other and with a naive sort
"""

import numpy as np
import pytest

from blacklab_spark import bcql
from blacklab_spark import spans as S


def hs(df):
    return {(r["doc_id"], r["start"], r["end"]) for r in df.select("doc_id", "start", "end").collect()}


# tiny doc 0: the quick brown fox jumps over the lazy dog
# tiny doc 2: the quick brown fox and the quick blue hare
def test_double_gap_accumulates(tiny_index):
    got = hs(bcql.find(tiny_index, '"the" [] [] "fox"'))
    assert got == {(0, 0, 4), (2, 0, 4)}


def test_triple_gap_accumulates(tiny_index):
    # the(0) .. jumps(4): three any-tokens between
    got = hs(bcql.find(tiny_index, '"the" [] [] [] "jumps"'))
    assert got == {(0, 0, 5)}


def test_gap_then_bounded_gap(tiny_index):
    # {1,1}+{0,1} = {1,2}: the . . fox (d=3) matches via max bound
    got = hs(bcql.find(tiny_index, '"the" [] []{0,1} "fox"'))
    assert got == {(0, 0, 4), (2, 0, 4)}


def test_blockmax_bound_dominates_quantized_scores():
    """The per-block upper bound used for skipping must dominate every
    quantized per-doc score in the block (ADVICE: raw min_dl under-bounds
    because quantize_dl rounds DOWN)."""
    from blacklab_spark import B, K1
    from blacklab_spark.query import quantize_dl

    rng = np.random.default_rng(7)
    idf, avgdl = 2.5, 100.0
    for _ in range(50):
        dls = rng.integers(1, 5000, size=64).astype(np.int64)
        tfs = rng.integers(1, 30, size=64).astype(np.float64)
        mt = float(tfs.max())
        ml_q = float(quantize_dl(np.array([int(dls.min())], dtype=np.int64))[0])
        bound = idf * (K1 + 1) * mt / (mt + K1 * (1 - B + B * ml_q / avgdl))
        q = quantize_dl(dls).astype(np.float64)
        scores = idf * (K1 + 1) * tfs / (tfs + K1 * (1 - B + B * q / avgdl))
        assert scores.max() <= bound + 1e-12


def test_term_freqs_sums_across_segments(spark, tmp_path):
    from blacklab_spark.build import add_segment, build_index
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path / "ix2seg")
    pages = pages_df(spark, "tiny")
    # docs 0-2 in seg0, docs 3-5 in seg1 (aap: 5 in doc1 + 16 in doc5)
    p0 = pages.where("url like '%/0' or url like '%/1' or url like '%/2'")
    p1 = pages.where("url like '%/3' or url like '%/4' or url like '%/5'")
    build_index(spark, p0, out, n_shards=2, block_size=4)
    add_segment(spark, p1, out, "seg1", n_shards=2, block_size=4)
    ix = Index(spark, out)
    assert len(ix.segments) == 2
    tf = {r["term"]: r["cf"] for r in ix.term_freqs(fold=True).collect()}
    assert tf["aap"] == 21  # 5 + 16, NOT max(5, 16)
    assert tf["the"] == 5  # 4 in seg0 docs + 1 in doc3


def test_capture_rides_through_expand(tiny_index):
    h = S.capture(tiny_index.term_hits("quick"), "A")
    out = S.expand(h, tiny_index.doc_lens(), "right", 1, 2)
    assert "A_start" in out.columns and "A_end" in out.columns
    rows = out.collect()
    assert rows and all(r["A_end"] - r["A_start"] == 1 for r in rows)


def test_or_spans_preserves_captures_with_nulls(tiny_index):
    a = S.capture(tiny_index.term_hits("quick"), "A")
    b = tiny_index.term_hits("lazy")
    out = S.or_spans(a, b)
    assert "A_start" in out.columns
    rows = out.collect()
    caps = [r for r in rows if r["A_start"] is not None]
    nulls = [r for r in rows if r["A_start"] is None]
    assert len(caps) == 3 and len(nulls) == 1  # quick x3, lazy x1


def test_and_spans_merges_captures(tiny_index):
    a = S.capture(tiny_index.term_hits("quick"), "A")
    b = S.capture(tiny_index.term_hits("quick"), "B")
    out = S.and_spans(a, b)
    assert {"A_start", "A_end", "B_start", "B_end"} <= set(out.columns)
    assert out.count() == 3


def test_compact_store_text_false_raises(spark, tmp_path):
    from blacklab_spark.build import build_index, compact
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path / "ix_nt")
    pages = pages_df(spark, "tiny")
    build_index(spark, pages, out, n_shards=2, block_size=4, store_text=False)
    with pytest.raises(ValueError, match="store_text"):
        compact(spark, out)
    # with the original pages table, compaction works and hits survive
    meta = compact(spark, out, n_shards=2, block_size=4, pages=pages)
    assert meta["n_docs"] == 6
    ix = Index(spark, out)
    assert ix.term_hits("quick").count() == 3


def test_rank_head_matches_ranked_all(spark):
    from blacklab_spark.rank import rank_head, ranked_all

    df = spark.range(0, 500).selectExpr(
        "id", "cast(id % 37 as int) as k", "cast(id % 7 as int) as j"
    )
    keys = [("k", True), ("j", False), ("id", True)]
    head = rank_head(df, keys, 5, 20, "rank").orderBy("rank").collect()
    full = (
        ranked_all(df, keys, "rank")
        .filter("rank > 5 and rank <= 25").orderBy("rank").collect()
    )
    assert [(r["rank"], r["id"]) for r in head] == [(r["rank"], r["id"]) for r in full]
    naive = sorted(((r["k"], -r["j"], r["id"]) for r in df.collect()))[5:25]
    assert [r["id"] for r in head] == [t[2] for t in naive]


def test_blocks_doc_sorted_and_stats(spark, tmp_path):
    """Posting blocks must hold ASCENDING doc ids with valid first/last_doc
    stats — the WAND skip test and delta compression depend on it. (Round-1
    latent bug: the kernel sorted by batch-arrival index, not doc id.)"""
    from blacklab_spark.build import build_index
    from blacklab_spark.codec import decode_ints, delta_decode
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path / "ix_sorted")
    build_index(spark, pages_df(spark, "small", 300), out, n_shards=3, block_size=32)
    ix = Index(spark, out)
    rows = ix.segments[0].postings.collect()
    assert rows
    import numpy as np

    for r in rows:
        docs = delta_decode(decode_ints(r["doc_ids"]))
        assert (np.diff(docs) > 0).all(), "docs not strictly ascending"
        assert docs[0] == r["first_doc"] and docs[-1] == r["last_doc"]

