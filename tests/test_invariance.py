"""Invariance fixtures (FIXTURES.md §3): results must be identical across
parallelism, shard counts, and delta-segment vs one-shot builds — the
distributed-correctness guarantees a 1000-executor run relies on."""

import pytest

from blacklab_spark.build import add_segment, build_index, compact
from blacklab_spark.fixtures import pages_df
from blacklab_spark.query import Index

N = 400  # slice of tier B — enough to hit multi-block, multi-shard paths


def topk_sig(ix, terms, k=10):
    return [(r["rank"], r["doc_id"], round(r["score"], 10)) for r in ix.topk(terms, k=k).orderBy("rank").collect()]


def hits_sig(ix, term):
    return sorted((r["doc_id"], r["start"], r["end"]) for r in ix.term_hits(term).collect())


@pytest.fixture(scope="module")
def base_ix(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("inv_base"))
    build_index(spark, pages_df(spark, "small", N), out, n_shards=8, block_size=32)
    return Index(spark, out)


def test_shard_count_invariance(spark, tmp_path_factory, base_ix):
    out = str(tmp_path_factory.mktemp("inv_shards"))
    build_index(spark, pages_df(spark, "small", N), out, n_shards=3, block_size=64)
    other = Index(spark, out)
    assert topk_sig(other, ["the", "w00010"]) == topk_sig(base_ix, ["the", "w00010"])
    assert hits_sig(other, "click") == hits_sig(base_ix, "click")


def test_delta_segments_equal_one_shot(spark, tmp_path_factory, base_ix, ranked_paths):
    """2-delta build answers identically to the 1-shot build (global stats are
    aggregated across segments at query time)."""
    out = str(tmp_path_factory.mktemp("inv_delta"))
    pages = pages_df(spark, "small", N)
    first = pages.filter("url < 'https://site50'")
    second = pages.filter("url >= 'https://site50'")
    build_index(spark, first, out, n_shards=4, block_size=32, segment="seg0")
    add_segment(spark, second, out, segment="seg1", n_shards=4, block_size=32)
    ix = Index(spark, out)
    assert ix.n_docs == base_ix.n_docs
    assert ix.sum_dl == base_ix.sum_dl
    # doc ids: seg0 = dense rank within first urls; url split point is the
    # id boundary, so global ids == one-shot ids
    for path in ranked_paths():
        assert topk_sig(ix, ["the", "w00010"]) == topk_sig(base_ix, ["the", "w00010"]), path
        assert topk_sig(ix, ["w00100"]) == topk_sig(base_ix, ["w00100"]), path
    assert hits_sig(ix, "click") == hits_sig(base_ix, "click")

    # compaction merges to a single segment with identical answers
    compact(spark, out, n_shards=8, block_size=32)
    cx = Index(spark, out)
    assert len(cx.segments) == 1
    assert topk_sig(cx, ["the", "w00010"]) == topk_sig(base_ix, ["the", "w00010"])
    assert hits_sig(cx, "click") == hits_sig(base_ix, "click")


def test_parallelism_invariance(spark, base_ix, tmp_path_factory):
    """Same build at a different input partitioning -> identical index answers.
    (local[8] vs local[32] invariance is evidenced by scripts/scaling_bench.py,
    which runs separate JVMs; here we vary data partitioning, the thing that
    actually changes between cluster sizes.)"""
    out = str(tmp_path_factory.mktemp("inv_parts"))
    pages = pages_df(spark, "small", N).repartition(17)
    build_index(spark, pages, out, n_shards=8, block_size=32)
    other = Index(spark, out)
    assert topk_sig(other, ["the", "w00010"]) == topk_sig(base_ix, ["the", "w00010"])
    assert hits_sig(other, "w00005") == hits_sig(base_ix, "w00005")
