"""codec="pfor" build path: a PForDelta-encoded index must be
query-identical to the default varint index over the same corpus (the
blobs differ, every decoded posting is the same), merges must mix codecs
freely (blobs self-describe via the tag byte), and the pfor blocks should
actually be smaller on posting-shaped data."""

import pytest

from blacklab_spark import bcql

QUERIES = [
    lambda ix: ix.term_hits("the"),
    lambda ix: ix.phrase_hits(["of", "the"]),
    lambda ix: ix.regex_hits("th.*"),
    lambda ix: ix.topk(["the", "data"], k=10),
    lambda ix: bcql.find(ix, '[pos="nn"]'),
    lambda ix: bcql.find(ix, '"the" []{0,2} [pos="nn"]'),
]


def hs(df):
    cols = [c for c in ("doc_id", "start", "end", "score") if c in df.columns]
    return sorted(tuple(r[c] for c in cols) for r in df.select(cols).collect())


@pytest.fixture(scope="module")
def codec_pair(spark, tmp_path_factory):
    from blacklab_spark.build import build_index
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    pages = pages_df(spark, "small")
    kw = dict(n_shards=2, block_size=8, annotations=("word", "lemma", "pos"))
    d_v = str(tmp_path_factory.mktemp("ix_codec_varint"))
    d_p = str(tmp_path_factory.mktemp("ix_codec_pfor"))
    build_index(spark, pages, d_v, codec="varint", **kw)
    build_index(spark, pages, d_p, codec="pfor", **kw)
    return Index(spark, d_v), Index(spark, d_p), d_v, d_p


def test_pfor_identical_queries(codec_pair):
    ix_v, ix_p, _, _ = codec_pair
    for i, q in enumerate(QUERIES):
        r = hs(q(ix_v))
        assert r == hs(q(ix_p)) and r, f"query {i}"


def test_pfor_identical_dictionary_and_stats(codec_pair):
    ix_v, ix_p, _, _ = codec_pair
    cols = ["annot", "term", "term_id", "df", "cf"]

    def terms(ix):
        return sorted(
            tuple(r) for s in ix.segments for r in s.terms.select(cols).collect()
        )

    tv, tp = terms(ix_v), terms(ix_p)
    assert tv == tp and tv


def test_pfor_blocks_smaller(codec_pair, spark):
    from pyspark.sql import functions as F

    _, _, d_v, d_p = codec_pair

    def blob_bytes(d):
        df = spark.read.parquet(f"{d}/segments/seg0/postings")
        return df.select(
            F.sum(
                F.octet_length("doc_ids") + F.octet_length("tfs")
                + F.octet_length("dls") + F.octet_length("positions")
            ).alias("b")
        ).collect()[0]["b"]

    v, p = blob_bytes(d_v), blob_bytes(d_p)
    assert p < v, f"pfor {p} B should beat varint {v} B"


def test_mixed_codec_merge(spark, tmp_path_factory):
    """A varint delta segment merged into a pfor base must produce exact
    results — merge moves tagged blobs verbatim, decode dispatches per blob."""
    from blacklab_spark.build import add_segment, build_index, merge_segments
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    from pyspark.sql import functions as F

    pages = pages_df(spark, "small")
    a = pages.filter(F.abs(F.hash("url")) % 2 == 0)
    b = pages.filter(F.abs(F.hash("url")) % 2 == 1)
    dst = str(tmp_path_factory.mktemp("ix_mixed"))
    ref = str(tmp_path_factory.mktemp("ix_mixed_ref"))
    kw = dict(n_shards=2, block_size=8)

    def two_seg(d, codec_a, codec_b):
        build_index(spark, a, d, codec=codec_a, **kw)
        add_segment(spark, b, d, "delta1", codec=codec_b, **kw)
        merge_segments(spark, d)

    two_seg(dst, "pfor", "varint")  # mixed codecs
    two_seg(ref, "varint", "varint")  # uniform reference, SAME split/ids
    ix_m, ix_r = Index(spark, dst), Index(spark, ref)
    assert ix_m.segments[0].meta["codec"] == "mixed"
    assert ix_r.segments[0].meta["codec"] == "varint"
    for q in (
        lambda ix: ix.term_hits("the"),
        lambda ix: ix.topk(["the"], k=10),
        lambda ix: ix.phrase_hits(["of", "the"]),
    ):
        assert hs(q(ix_m)) == hs(q(ix_r))


@pytest.fixture(scope="module")
def annotated_pfor_index(spark, tmp_path_factory):
    """Annotated input with every stream the encode kernel handles: word,
    input lemma and pos layers, multi-value tokens ("a|b"), a position gap
    ("") and a parallel field (tokens_nl)."""
    from blacklab_spark.build import build_index

    words = ["the", "fox", "dog", "runs", "Fox", "a", "cat", "sleeps"]
    rows = []
    for d in range(40):
        n = 3 + (d * 7) % 11
        toks = [words[(d + 3 * i + i * i) % len(words)] for i in range(n)]
        if d % 5 == 0:
            toks[1] = toks[1] + "|animal"
        if d % 9 == 4:
            toks[-1] = ""
        rows.append((
            f"doc://{d:03d}", toks,
            [t.split("|")[0].lower() + "_l" if t else "" for t in toks],
            ["N" if t.startswith(("f", "d", "c")) else "X" for t in toks],
            [w.upper() for w in toks[: n - d % 3]],
        ))
    pages = spark.createDataFrame(
        rows,
        "url string, tokens array<string>, tokens_lemma array<string>, "
        "tokens_pos array<string>, tokens_nl array<string>",
    )
    from pyspark.sql import functions as F

    pages = pages.select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("und").alias("lang"),
        "tokens", "tokens_lemma", "tokens_pos", "tokens_nl",
    )
    out = str(tmp_path_factory.mktemp("ix_pfor_annot"))
    build_index(
        spark, pages, out, n_shards=2, block_size=4,
        annotations=("word", "lemma", "pos"), codec="pfor",
    )
    return out


def test_pfor_kernel_blocks_consistent(annotated_pfor_index):
    """Every postings blob of a pfor build re-encodes to itself, and the
    block's stored stats agree with its decoded arrays: a block sliced at
    the wrong doc or token range shows up here, where codec-level tests
    cannot see it."""
    import numpy as np
    import pyarrow.parquet as pq

    from blacklab_spark.codec import (
        decode_ints,
        delta_decode,
        delta_decode_segmented,
        encode_ints,
    )

    seg = f"{annotated_pfor_index}/segments/seg0"
    post = pq.read_table(f"{seg}/postings").to_pylist()
    docs = pq.read_table(f"{seg}/docs", columns=["doc_id", "doc_len"]).to_pydict()
    doc_len = dict(zip(docs["doc_id"], docs["doc_len"]))
    assert {r["annot"] for r in post} == {"word", "lemma", "pos", "f_nl"}
    assert max(r["doc_count"] for r in post) == 4  # terms span several blocks
    for r in post:
        dec = {}
        for col in ("doc_ids", "tfs", "dls", "positions"):
            blob = r[col]
            assert blob[0] == 0x02, (col, r["annot"], r["term_id"])
            dec[col] = decode_ints(blob)
            assert encode_ints(dec[col], "pfor") == blob, (col, r["annot"], r["term_id"])
        doc_ids = delta_decode(dec["doc_ids"])
        tfs, dls = dec["tfs"], dec["dls"]
        assert r["doc_count"] == len(doc_ids) == len(tfs) == len(dls)
        assert np.all(np.diff(doc_ids) > 0)
        assert (r["first_doc"], r["last_doc"]) == (doc_ids[0], doc_ids[-1])
        assert r["tf_sum"] == tfs.sum() == len(dec["positions"])
        assert (r["max_tf"], r["min_dl"]) == (tfs.max(), dls.min())
        positions = delta_decode_segmented(dec["positions"], tfs)
        assert np.all(positions >= 0)
        if r["annot"] != "f_nl":  # a parallel field counts its own stream
            assert list(dls) == [doc_len[d] for d in doc_ids]
            assert np.all(positions < np.repeat(dls, tfs))
