"""Posting-level segment merge (reference BlackLab40PostingsWriter.merge):
merge_segments must be query-identical to the multi-segment index and to a
compact() rebuild, without re-tokenizing or re-encoding anything."""

import shutil

import pyarrow.parquet as pq
import pytest

from blacklab_spark import bcql


@pytest.fixture(scope="module")
def two_seg_dir(spark, tmp_path_factory):
    from blacklab_spark.build import add_segment, build_index
    from blacklab_spark.fixtures import pages_df

    out = str(tmp_path_factory.mktemp("ix_two_seg"))
    pages = pages_df(spark, "small")
    a = pages.filter(pages.url < "doc://000000000030")
    b = pages.filter(pages.url >= "doc://000000000030")
    build_index(
        spark, a, out, n_shards=2, block_size=8,
        annotations=("word", "lemma", "pos"), index_relations=True,
    )
    add_segment(
        spark, b, out, "seg1", n_shards=2, block_size=8,
        annotations=("word", "lemma", "pos"), index_relations=True,
    )
    return out


def hs(df):
    return {tuple(r) for r in df.collect()}


QUERIES = [
    lambda ix: ix.term_hits("the"),
    lambda ix: ix.or_hits(["small", "large"]),
    lambda ix: ix.regex_hits("th.*"),
    lambda ix: ix.phrase_hits(["of", "the"]),
    lambda ix: ix.topk(["the", "data"], k=10),
    lambda ix: ix.term_freqs(fold=True).orderBy("term").limit(30),
    lambda ix: bcql.find(ix, '[pos="nn"]'),
    lambda ix: bcql.find(ix, '_ -stop-> _'),
    lambda ix: bcql.find(ix, '[lemma="the"]'),
]


def test_merge_matches_multisegment(spark, two_seg_dir, tmp_path_factory, ranked_paths):
    from blacklab_spark.build import merge_segments
    from blacklab_spark.query import Index

    multi = Index(spark, two_seg_dir)
    assert len(multi.segments) == 2
    before = [hs(q(multi)) for q in QUERIES]
    n_docs, sum_dl = multi.n_docs, multi.sum_dl

    merged_dir = str(tmp_path_factory.mktemp("ix_merged"))
    shutil.copytree(two_seg_dir, merged_dir, dirs_exist_ok=True)
    meta = merge_segments(spark, merged_dir)
    ix = Index(spark, merged_dir)
    assert len(ix.segments) == 1
    assert ix.n_docs == n_docs and ix.sum_dl == sum_dl
    assert meta["n_shards"] == 4
    for q, want in zip(QUERIES, before):
        assert hs(q(ix)) == want
    topk = QUERIES[4]
    for path in ranked_paths():
        assert hs(topk(multi)) == hs(topk(ix)) == before[4], path
    # every terms file, built or merged, is in (annot, term_fold, term) order
    for seg_dir in [f"{two_seg_dir}/segments/{s.name}" for s in multi.segments] + [
        f"{merged_dir}/segments/{ix.segments[0].name}"
    ]:
        t = pq.read_table(f"{seg_dir}/terms", columns=["annot", "term_fold", "term"])
        keys = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        assert keys == sorted(keys), seg_dir


def test_merge_matches_rebuild_compact(spark, two_seg_dir, tmp_path_factory):
    from blacklab_spark.build import compact, merge_segments
    from blacklab_spark.query import Index

    d1 = str(tmp_path_factory.mktemp("ix_m"))
    d2 = str(tmp_path_factory.mktemp("ix_c"))
    shutil.copytree(two_seg_dir, d1, dirs_exist_ok=True)
    shutil.copytree(two_seg_dir, d2, dirs_exist_ok=True)
    merge_segments(spark, d1)
    compact(spark, d2, n_shards=2, block_size=8)
    a, b = Index(spark, d1), Index(spark, d2)
    # same dictionary stats and same hits (shard layout may differ)
    ta = {tuple(r) for r in a.terms_df.select(
        "annot", "term", "df", "cf", "fold_df", "term_id").collect()}
    tb = {tuple(r) for r in b.terms_df.select(
        "annot", "term", "df", "cf", "fold_df", "term_id").collect()}
    assert ta == tb
    for q in QUERIES:
        assert hs(q(a)) == hs(q(b))


def test_merge_requires_two_segments(spark, tmp_path_factory):
    from blacklab_spark.build import build_index, merge_segments
    from blacklab_spark.fixtures import pages_df

    out = str(tmp_path_factory.mktemp("ix_one"))
    build_index(spark, pages_df(spark, "tiny"), out, n_shards=1)
    with pytest.raises(ValueError, match="need >= 2"):
        merge_segments(spark, out)


def test_merge_removes_source_segments(spark, two_seg_dir, tmp_path_factory):
    """After the registry commit the source segment dirs are dead weight;
    streaming compaction merges on a cadence, so leaking one index copy per
    merge compounds. Post-merge, segments/ holds only the merged segment
    and queries stay green."""
    import os

    from blacklab_spark.build import merge_segments
    from blacklab_spark.query import Index

    d = str(tmp_path_factory.mktemp("ix_cleanup"))
    shutil.copytree(two_seg_dir, d, dirs_exist_ok=True)
    multi = Index(spark, d)
    want = hs(multi.term_hits("the"))
    merge_segments(spark, d)
    assert sorted(os.listdir(os.path.join(d, "segments"))) == ["merged"]
    assert hs(Index(spark, d).term_hits("the")) == want


def test_merge_rejects_mixed_format_or_tokenizer(spark, two_seg_dir, tmp_path_factory):
    """Posting blocks move verbatim, so merging a segment written at an
    older format_version (or another tokenizer) would stamp merged meta the
    sources can't honor — e.g. _parallel_postings_ok claiming posting-backed
    parallel fields a pre-format-9 segment never built. Both must raise."""
    import json
    import os

    from blacklab_spark.build import merge_segments

    for field, bad, msg in [
        ("format_version", 8, "format_version"),
        ("tokenizer_version", "older-tok", "tokenizer_version"),
    ]:
        d = str(tmp_path_factory.mktemp(f"ix_mixed_{field}"))
        shutil.copytree(two_seg_dir, d, dirs_exist_ok=True)
        mp = os.path.join(d, "segments", "seg1", "meta.json")
        with open(mp) as f:
            m = json.load(f)
        m[field] = bad
        with open(mp, "w") as f:
            json.dump(m, f)
        with pytest.raises(ValueError, match=msg):
            merge_segments(spark, d)


def test_subset_merge_and_tiered_policy(spark, tmp_path):
    """merge_segments(segments=[...]) folds ONLY the named segments (the
    rest stay registered and on disk); tiered_compact merges full size
    levels and leaves lone big segments untouched. Queries stay identical
    throughout."""
    import json
    from pathlib import Path

    from blacklab_spark.build import add_segment, build_index, merge_segments
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index
    from blacklab_spark.streaming import tiered_compact

    out = str(tmp_path / "ix")
    pages = pages_df(spark, "tiny")
    rows = pages.collect()

    def seg_pages(sl):
        return spark.createDataFrame([rows[i] for i in sl], pages.schema)

    build_index(spark, seg_pages([0, 1]), out, n_shards=1, segment="s0")
    add_segment(spark, seg_pages([2]), out, "s1", n_shards=1)
    add_segment(spark, seg_pages([3]), out, "s2", n_shards=1)
    add_segment(spark, seg_pages([4, 5]), out, "s3", n_shards=1)
    before = Index(spark, out).count_hits("aap")

    # subset merge: fold s1+s2 only
    merge_segments(spark, out, segment="mid", segments=["s1", "s2"])
    reg = json.load(open(f"{out}/segments.json"))["segments"]
    assert reg == ["s0", "s3", "mid"]
    assert not (Path(out) / "segments" / "s1").exists()
    assert (Path(out) / "segments" / "s0").exists()
    ix = Index(spark, out)
    assert ix.count_hits("aap") == before and ix.n_docs == 6

    # unknown subset / name collision raise
    import pytest

    with pytest.raises(ValueError, match="unknown segments"):
        merge_segments(spark, out, segments=["nope", "s0"])
    with pytest.raises(ValueError, match="already registered"):
        merge_segments(spark, out, segment="mid")

    # tiered: 3 tiny segments (s0, s3, mid each 1-2 docs = same level)
    # merge at factor 3; the result is one segment, queries unchanged
    metas = tiered_compact(spark, out, merge_factor=3, tag="t")
    assert len(metas) >= 1
    reg2 = json.load(open(f"{out}/segments.json"))["segments"]
    assert len(reg2) < 3
    ix2 = Index(spark, out)
    assert ix2.count_hits("aap") == before and ix2.n_docs == 6

    # a lone level never merges: second pass is a no-op
    assert tiered_compact(spark, out, merge_factor=3, tag="u") == []


def test_merge_invalidates_open_readers(spark, two_seg_dir, tmp_path_factory):
    """merge_segments deletes the source segment dirs — a live Index opened
    BEFORE the merge must keep working (ADVICE r4: previously its lazy
    DataFrames pointed at removed parquet paths and failed on next action)."""
    from blacklab_spark.build import merge_segments
    from blacklab_spark.query import Index

    d = str(tmp_path_factory.mktemp("ix_live_reader"))
    shutil.copytree(two_seg_dir, d, dirs_exist_ok=True)
    live = Index(spark, d)
    want = hs(live.term_hits("the"))
    live.term_hits("the").count()  # materialize a plan over the old segments
    merge_segments(spark, d)
    # the SAME instance, post-merge: reloaded over the merged segment
    assert len(live.segments) == 1
    assert hs(live.term_hits("the")) == want
