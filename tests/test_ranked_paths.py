"""The two paths of a ranked term query — the driver path (pyarrow reads,
no Spark job) and the Spark plan — call the same shard kernel and must
return the same rank, doc_id, url and score, bit for bit."""

import numpy as np
import pyarrow.parquet as pq
import pytest

QUERIES = {
    "folded": lambda ix: ix.topk(["café"], k=10),
    "or3": lambda ix: ix.topk(["the", "w00010", "café"], k=10),
    "absent": lambda ix: ix.topk(["the", "zzz-absent"], k=10),
    "k_above_hits": lambda ix: ix.topk(["click"], k=1000),
    "and": lambda ix: ix.topk_and(["the", "click"], k=10),
    "and_absent_from_a_segment": lambda ix: ix.topk_and(["café", "the"], k=10),
    "lang_nl": lambda ix: ix.topk(["w00010", "the"], k=10, where_lang="nl"),
    "lang_es": lambda ix: ix.topk(["the"], k=10, where_lang="es"),
    "unquantized": lambda ix: ix.topk(["w00010"], k=10, quantize=False),
}


@pytest.fixture(scope="module")
def two_segments(spark, tmp_path_factory):
    """400 small-tier docs plus a 30-doc delta on two shards: the delta has
    no 'café' (folded from several surface terms in the first segment), no
    doc in 'es', and one shard with no doc in 'nl'."""
    from blacklab_spark.build import add_segment, build_index
    from blacklab_spark.fixtures import PAGES_SCHEMA, gen_pages_pdf, pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path_factory.mktemp("ix_paths_two"))
    build_index(spark, pages_df(spark, "small", 400), out, n_shards=4, block_size=16)
    delta = spark.createDataFrame(gen_pages_pdf(np.arange(400, 430), "small"), PAGES_SCHEMA)
    add_segment(spark, delta, out, "seg1", n_shards=2, block_size=16)
    return Index(spark, out)


def langs_by_shard(seg):
    d = pq.read_table(f"{seg.path}/docs", columns=["shard", "lang"]).to_pandas()
    return {int(s): set(g["lang"]) for s, g in d.groupby("shard")}


def test_two_segment_fixture_has_the_planted_cases(two_segments):
    _, seg1 = two_segments.segments
    first, delta = two_segments.resolve(["café"])
    assert len(first) > 1 and len(delta) == 0
    assert all("es" not in langs for langs in langs_by_shard(seg1).values())
    assert any("nl" not in langs for langs in langs_by_shard(seg1).values())
    assert any("nl" in langs for langs in langs_by_shard(seg1).values())


@pytest.mark.parametrize("index", ["small_index", "two_segments"])
@pytest.mark.parametrize("name", list(QUERIES))
def test_driver_path_equals_spark_plan(request, ranked_paths, index, name):
    ix = request.getfixturevalue(index)
    got = {path: QUERIES[name](ix).collect() for path in ranked_paths()}
    rows = sorted(tuple(r) for r in got["spark"])
    assert [tuple(r) for r in got["driver"]] == rows  # the driver's rows come in rank order
    assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
    assert 0 < len(rows) < 1000


def test_driver_merge_orders_ties_across_shards(spark, tmp_path, ranked_paths):
    """A shard holding <= k candidates returns them unsorted, so the merge
    across shards must sort: four docs tie on the top score across two
    shards, and the first shard also holds a lower-scored doc before them."""
    from pyspark.sql import functions as F

    from blacklab_spark.build import build_index
    from blacklab_spark.query import Index

    long_, short = ["x", "z", "z", "z", "z"], ["x", "z"]
    toks = [long_, short, short, short, short, long_]
    pages = spark.createDataFrame(
        [(f"doc://{i}", t) for i, t in enumerate(toks)], "url string, tokens array<string>"
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("und").alias("lang"),
        "tokens",
    )
    out = str(tmp_path / "ix_ties")
    build_index(spark, pages, out, n_shards=2, block_size=4)
    ix = Index(spark, out)
    docs = pq.read_table(f"{out}/segments/seg0/docs", columns=["doc_id", "shard"]).to_pandas()
    assert docs[docs["doc_id"].isin([1, 2, 3, 4])]["shard"].nunique() == 2
    for path in ranked_paths():
        rows = sorted(ix.topk(["x"], k=3).collect())
        assert [(r["rank"], r["doc_id"]) for r in rows] == [(1, 1), (2, 2), (3, 3)], path
        assert len({r["score"] for r in rows}) == 1, path
