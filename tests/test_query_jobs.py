"""Fixed cost of a ranked query: Spark-job budgets counted with StatusTracker
job groups, the driver-side terms-dict lookups (no Spark job, pyarrow over
the segment's terms files) and the (annot, term_fold, term) row order of
those files that keeps the lookups pruned at any dictionary size."""

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

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


@pytest.mark.parametrize(
    "name,call,budget",
    [
        ("topk", lambda ix: ix.topk(["aap"], k=3), 3),
        ("topk_or", lambda ix: ix.topk(["aap", "fox"], k=3), 3),
        ("topk_and", lambda ix: ix.topk_and(["aap", "noot"], k=3), 3),
        ("topk_lang", lambda ix: ix.topk(["aap"], k=3, where_lang="en"), 4),
    ],
)
def test_ranked_query_job_budget(spark, tiny_index, name, call, budget):
    n, rows = jobs_of(spark, lambda: call(tiny_index).collect())
    assert rows, name
    assert n <= budget, f"{name}: {n} Spark jobs > budget {budget}"


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
