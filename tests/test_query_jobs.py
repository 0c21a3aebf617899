"""Fixed cost of a ranked query and of a segment: Spark-job budgets counted
with StatusTracker job groups, the driver-side terms-dict lookups (no Spark
job, pyarrow over the segment's terms files), the (annot, term_fold, term)
row order of those files that keeps the lookups pruned at any dictionary
size, footer schemas in place of schema inference, and dense ids numbered
on the JVM."""

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

_groups = itertools.count()


def jobs_of(spark, fn):
    """(Spark jobs run by fn(), fn's result), counted by job group."""
    sc = spark.sparkContext
    gid = f"budget-{next(_groups)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setJobGroup("budget-idle", "between budget checks")
    return len(sc.statusTracker().getJobIdsForGroup(gid)), out


def ranks(df):
    return sorted((r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect())


def test_term_lookups_run_no_spark_job(spark, tiny_index):
    ix = tiny_index
    n, (r, rci, rt, df, cf) = jobs_of(
        spark,
        lambda: (
            ix.resolve(["aap", "Fox", "zzz-absent"]),
            ix.resolve(["The"], sens="ci"),
            ix.resolve_terms(["aap", "mier"]),
            ix.term_df("aap"),
            ix.count_hits("aap"),
        ),
    )
    assert n == 0
    assert sorted(r[0].attrs["gdf"]) == [0, 1]  # the absent term resolves to nothing
    assert set().union(*(x["key"] for x in rt)) == {"aap", "mier"}
    assert df == 2 and cf == 21
    assert sum(len(x) for x in rci) > 0


RANKED = {
    "topk": lambda ix: ix.topk(["aap"], k=3),
    "topk_or": lambda ix: ix.topk(["aap", "fox"], k=3),
    "topk_and": lambda ix: ix.topk_and(["aap", "noot"], k=3),
    "topk_lang": lambda ix: ix.topk(["aap"], k=3, where_lang="en"),
}


@pytest.mark.parametrize(
    "name,call,budget",
    [
        ("topk", RANKED["topk"], 3),
        ("topk_or", RANKED["topk_or"], 3),
        ("topk_and", RANKED["topk_and"], 3),
        ("topk_lang", RANKED["topk_lang"], 4),
    ],
)
def test_ranked_query_job_budget(spark, tiny_index, monkeypatch, name, call, budget):
    """Above the driver budget, the Spark plan's jobs."""
    from blacklab_spark import query

    monkeypatch.setattr(query, "DRIVER_BLOCKS", 0)
    n, rows = jobs_of(spark, lambda: call(tiny_index).collect())
    assert rows, name
    assert n <= budget, f"{name}: {n} Spark jobs > budget {budget}"


@pytest.fixture(scope="module")
def tiny_two_segments(spark, tmp_path_factory):
    from blacklab_spark.build import add_segment, build_index
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path_factory.mktemp("ix_tiny_two"))
    pages = pages_df(spark, "tiny")
    build_index(spark, pages.filter(pages.url < "https://site3"), out, n_shards=2, block_size=4)
    add_segment(
        spark, pages.filter(pages.url >= "https://site3"), out, "seg1", n_shards=1, block_size=4
    )
    return Index(spark, out)


@pytest.mark.parametrize("segments", [1, 2])
@pytest.mark.parametrize("name", list(RANKED))
def test_small_ranked_query_runs_no_spark_job(
    spark, tiny_index, tiny_two_segments, monkeypatch, segments, name
):
    """Under the driver budget a ranked term query reads and scores its
    postings in process and returns a local relation: collect() runs no
    Spark job, and the rows equal the Spark plan's."""
    from blacklab_spark import query

    ix = tiny_index if segments == 1 else tiny_two_segments
    assert len(ix.segments) == segments
    n, rows = jobs_of(spark, lambda: RANKED[name](ix).collect())
    assert rows and n == 0, f"{name}: {n} Spark jobs"
    monkeypatch.setattr(query, "DRIVER_BLOCKS", 0)
    assert sorted(rows) == sorted(RANKED[name](ix).collect())


def test_topk_and_scores_only_docs_with_every_term(tiny_index):
    """The AND set comes from inside the scoring kernel: only the doc holding
    both terms ranks, with the same BM25 sum the OR query gives it."""
    got = ranks(tiny_index.topk_and(["aap", "noot"], k=5))
    both = {d for d, in tiny_index.and_docs(["aap", "noot"]).collect()}
    assert [d for _, d, _ in got] == sorted(both) and len(both) == 1
    or_scores = {d: s for _, d, s in ranks(tiny_index.topk(["aap", "noot"], k=5))}
    assert got[0][2] == or_scores[got[0][1]]
    assert ranks(tiny_index.topk_and(["aap", "absent"], k=5)) == []


def _terms_files(seg_dir):
    d = os.path.join(seg_dir, "terms")
    return [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")]


def assert_terms_sorted(out_dir):
    segs = sorted(os.listdir(os.path.join(out_dir, "segments")))
    assert segs
    for s in segs:
        files = _terms_files(os.path.join(out_dir, "segments", s))
        assert files, s
        for f in files:
            t = pq.read_table(f, columns=["annot", "term_fold", "term", "sort_pos_i"])
            keys = list(zip(*(t.column(c).to_pylist() for c in ("annot", "term_fold", "term"))))
            assert keys == sorted(keys), f"{f} not in (annot, term_fold, term) order"
            pos = t.column("sort_pos_i").to_pylist()
            assert pos == sorted(pos), f


def test_unsorted_terms_file_still_resolves(spark, tmp_path):
    """Terms files written before the sorted order (any row order, several
    row groups) answer every lookup the same, only with less pruning."""
    import numpy as np

    from blacklab_spark.build import build_index
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path / "ix_unsorted")
    build_index(spark, pages_df(spark, "tiny"), out, n_shards=2, block_size=4)
    want = Index(spark, out)
    expect = (
        ranks(want.topk(["aap", "the"], k=5)),
        want.term_df("the"),
        want.count_hits("aap"),
        [sorted(r["term_id"]) for r in want.resolve(["The"], sens="ci")],
    )
    seg = os.path.join(out, "segments", "seg0")
    files = _terms_files(seg)
    t = pa.concat_tables([pq.read_table(f) for f in files])
    t = t.take(np.random.default_rng(0).permutation(t.num_rows))
    for f in files:
        os.remove(f)
    pq.write_table(t, os.path.join(seg, "terms", "part-old.parquet"), row_group_size=7)
    ix = Index(spark, out)
    assert (
        ranks(ix.topk(["aap", "the"], k=5)),
        ix.term_df("the"),
        ix.count_hits("aap"),
        [sorted(r["term_id"]) for r in ix.resolve(["The"], sens="ci")],
    ) == expect


def test_reload_after_merge_never_opens_deleted_terms(spark, tmp_path, monkeypatch):
    """Also checks the terms row order after build_index (small-dictionary
    kernel), add_segment and merge_segments (both on the distributed
    large-dictionary path, forced by dict_threshold=0)."""
    import pyarrow.dataset as pads

    from blacklab_spark.build import add_segment, build_index, merge_segments
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path / "ix_reload")
    pages = pages_df(spark, "tiny")
    build_index(spark, pages.filter(pages.url < "https://site3"), out, n_shards=1, block_size=4)
    add_segment(
        spark, pages.filter(pages.url >= "https://site3"), out, "seg1",
        n_shards=1, block_size=4, dict_threshold=0,
    )
    assert_terms_sorted(out)
    ix = Index(spark, out)
    want = ranks(ix.topk(["aap", "the"], k=5))  # opens both segments' terms datasets
    old = [os.path.join(out, "segments", s.name) for s in ix.segments]
    merge_segments(spark, out, dict_threshold=0)
    assert_terms_sorted(out)
    ix.reload()
    assert all(not os.path.exists(p) for p in old)

    opened = []
    real = pads.dataset

    def recording(path, *a, **kw):
        opened.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(pads, "dataset", recording)
    assert ranks(ix.topk(["aap", "the"], k=5)) == want
    assert ix.term_df("aap") == 2
    assert opened and all(os.path.exists(p) for p in opened)
    assert not any(p.startswith(o) for p in opened for o in old)


def test_open_and_reload_run_no_spark_job(spark, tiny_index):
    """Segment tables open with the schema their parquet footers hold."""
    from blacklab_spark.query import Index

    n_open, ix = jobs_of(spark, lambda: Index(spark, tiny_index.dir))
    n_reload, _ = jobs_of(spark, ix.reload)
    assert (n_open, n_reload) == (0, 0)
    assert ix.segments[0].postings.columns == tiny_index.segments[0].postings.columns


def assert_shard_counts(spark, seg_dir):
    """meta.json's per-shard counts equal an aggregate over the written
    postings and docs (what the dropped manifest table computed)."""
    import json

    from pyspark.sql import functions as F

    with open(os.path.join(seg_dir, "meta.json")) as f:
        meta = json.load(f)
    posts = spark.read.parquet(f"{seg_dir}/postings").groupBy("shard").agg(
        F.count("*").alias("n_blocks"),
        F.sum("doc_count").alias("n_postings"),
        F.countDistinct("term_id").alias("n_terms"),
    )
    docs = spark.read.parquet(f"{seg_dir}/docs").groupBy("shard").agg(F.count("*").alias("n_docs"))
    want = [
        {k: v or 0 for k, v in r.asDict().items()}
        for r in docs.join(posts, "shard", "left").orderBy("shard").collect()
    ]
    assert meta["shards"] == want
    assert not os.path.exists(os.path.join(seg_dir, "manifest"))


def test_build_and_delta_job_budget(spark, tmp_path):
    """A segment's fixed cost in Spark jobs: no schema inference, no count
    job, no stats or manifest job."""
    import numpy as np

    from blacklab_spark.build import add_segment, build_index
    from blacklab_spark.fixtures import PAGES_SCHEMA, gen_pages_pdf, pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path / "ix_budget")
    n_build, meta = jobs_of(
        spark, lambda: build_index(spark, pages_df(spark, "tiny"), out, n_shards=2, block_size=4)
    )
    delta = spark.createDataFrame(gen_pages_pdf(np.arange(100, 112), "small"), PAGES_SCHEMA)
    n_delta, dmeta = jobs_of(spark, lambda: add_segment(spark, delta, out, "seg1", n_shards=1))
    assert n_build <= 22, f"build_index: {n_build} Spark jobs > budget 22"
    assert n_delta <= 20, f"12-page add_segment: {n_delta} Spark jobs > budget 20"
    assert (meta["n_docs"], dmeta["n_docs"], dmeta["base_doc_id"]) == (6, 12, 6)
    for seg in ("seg0", "seg1"):
        assert_shard_counts(spark, os.path.join(out, "segments", seg))
    n_open, ix = jobs_of(spark, lambda: Index(spark, out))
    assert n_open == 0 and len(ix.segments) == 2


def _annotated_pages(spark):
    rows = [
        ("doc://0", ["The|DOH", "quick", "fox|animal"], ["de", "snelle", "vos"]),
        ("doc://1", ["animal", "fox", ""], ["dier", "vos"]),
        ("doc://2", [], ["leeg"]),
    ]
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        rows, "url string, tokens array<string>, tokens_nl array<string>"
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("und").alias("lang"),
        "tokens",
        "tokens_nl",
    )


def test_footer_schema_equals_inference(spark, tmp_path, tiny_index):
    """read_parquet's driver-side footer schema is the schema Spark's
    inference job returns: for a plain segment, an annotated segment with
    multi-value positions and a parallel field, a merged segment and a
    terms file another writer produced."""
    from blacklab_spark.build import add_segment, build_index, merge_segments
    from blacklab_spark.storage import footer_schema

    def check(seg_dir):
        for t in ("docs", "terms", "postings"):
            p = os.path.join(seg_dir, t)
            assert footer_schema(p) == spark.read.parquet(p).schema, p

    check(os.path.join(tiny_index.dir, "segments", "seg0"))
    out = str(tmp_path / "ix_annot")
    meta = build_index(spark, _annotated_pages(spark), out, n_shards=2, block_size=4)
    assert meta["multi_value"] and meta["parallel_fields"] == ["nl"]
    assert meta["sum_dl"] == 6
    add_segment(spark, _annotated_pages(spark), out, "seg1", n_shards=1, block_size=4)
    for seg in ("seg0", "seg1"):
        check(os.path.join(out, "segments", seg))
    merged = merge_segments(spark, out)
    seg_dir = os.path.join(out, "segments", "merged")
    check(seg_dir)
    assert_shard_counts(spark, seg_dir)
    assert merged["sum_dl"] == 12 and merged["multi_value"]

    d = tmp_path / "foreign_terms"
    d.mkdir()
    src = os.path.join(tiny_index.dir, "segments", "seg0", "terms")
    t = pa.concat_tables([pq.read_table(f) for f in _terms_files(os.path.dirname(src))])
    pq.write_table(t.replace_schema_metadata(None), str(d / "part-old.parquet"))
    assert footer_schema(str(d)) == spark.read.parquet(str(d)).schema


@settings(max_examples=15, deadline=None, derandomize=True)
@given(
    st.lists(st.one_of(st.none(), st.integers(-3, 3)), max_size=30),
    st.booleans(),
    st.booleans(),
    st.integers(1, 40),
    st.integers(0, 10**12),
)
def test_assign_dense_ids_is_a_dense_rank(spark, a_vals, a_asc, s_asc, n_parts, base):
    """Ids are base + the row's rank under the sort keys, numbered on the
    JVM (no Python stage), with n_parts up to above the row count (empty
    partitions) and any base."""
    from blacklab_spark.rank import assign_dense_ids

    rows = [(a, f"s{i:03d}") for i, a in enumerate(a_vals)]
    df = spark.createDataFrame(rows, "a int, s string")
    ids, n, cached = assign_dense_ids(df, [("a", a_asc), ("s", s_asc)], "id", n_parts, base=base)
    got = sorted((r["id"], r["a"], r["s"]) for r in ids.collect())
    plan = ids._jdf.queryExecution().executedPlan().toString()
    cached.unpersist()
    # Spark's order: ascending puts nulls first, descending puts them last
    want = sorted(rows, key=lambda r: r[1], reverse=not s_asc)
    want = sorted(want, key=lambda r: (r[0] is not None, r[0] or 0), reverse=not a_asc)
    assert n == len(rows)
    assert got == [(base + i, a, s) for i, (a, s) in enumerate(want)]
    assert "Python" not in plan and "Pandas" not in plan
