"""FIXTURES.md §3 query set (q01-q16) on the 2,000-doc seeded corpus,
asserted hit-identical / rank-identical against the pinned oracle."""

import pytest


def hits(df):
    return sorted((r["doc_id"], r["start"], r["end"]) for r in df.collect())


def ranks(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.orderBy("rank").collect()]


def assert_rank_identical(got, exp):
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exp]
    for a, b in zip(got, exp):
        assert abs(a[2] - b[2]) < 1e-10, (a, b)


def test_q01_term_head(small_index, small_oracle):
    assert hits(small_index.term_hits("the")) == small_oracle.term_hits("the")


def test_q02_term_rare(small_index, small_oracle):
    assert hits(small_index.term_hits("w04997")) == small_oracle.term_hits("w04997")


def test_q03_term_folded(small_index, small_oracle):
    got = hits(small_index.term_hits("café"))
    assert got == small_oracle.term_hits("café")
    assert len(got) >= 60  # 30 docs x >=2 folded variants actually present


def test_q04_or(small_index, small_oracle):
    assert hits(small_index.or_hits(["click", "service"])) == small_oracle.or_hits(
        "click", "service"
    )


def test_q05_regex(small_index, small_oracle):
    assert hits(small_index.regex_hits("w0012.")) == small_oracle.regex_hits("w0012.")


def test_q06_and(small_index, small_oracle):
    got = sorted(r["doc_id"] for r in small_index.and_docs(["click", "terms"]).collect())
    assert got == small_oracle.and_docs("click", "terms")


def test_q07_and_not(small_index, small_oracle):
    got = sorted(r["doc_id"] for r in small_index.and_not_docs("click", "terms").collect())
    assert got == small_oracle.and_not_docs("click", "terms")


def test_q08_phrase2(small_index, small_oracle):
    got = hits(small_index.phrase_hits(["click", "here"]))
    assert got == small_oracle.phrase_hits("click", "here")
    assert len(got) >= 30  # ~2% of 2000 docs carry the bigram


def test_q09_phrase3(small_index, small_oracle):
    got = hits(small_index.phrase_hits(["terms", "of", "service"]))
    assert got == small_oracle.phrase_hits("terms", "of", "service")
    assert len(got) >= 5


def test_q10_near(small_index, small_oracle):
    assert hits(small_index.near_hits("click", "w00000", 0, 3)) == small_oracle.near_hits(
        "click", "w00000", 0, 3
    )


@pytest.mark.parametrize("quantize", [True, False])
def test_q11_topk_single(small_index, small_oracle, quantize, ranked_paths):
    want = small_oracle.topk(["w00010"], k=10, quantize=quantize)
    for _ in ranked_paths():
        assert_rank_identical(ranks(small_index.topk(["w00010"], k=10, quantize=quantize)), want)


def test_q12_topk_multi(small_index, small_oracle, ranked_paths):
    q = ["w00003", "w00010", "w00100"]
    for _ in ranked_paths():
        assert_rank_identical(ranks(small_index.topk(q, k=10)), small_oracle.topk(q, k=10))


def test_q13_topk_head_tail(small_index, small_oracle, ranked_paths):
    q = ["the", "w04997"]
    for _ in ranked_paths():
        assert_rank_identical(ranks(small_index.topk(q, k=100)), small_oracle.topk(q, k=100))


def test_q14_topk_filtered(small_index, small_oracle, ranked_paths):
    want = small_oracle.topk(["w00010"], k=10, where_lang="en")
    for _ in ranked_paths():
        assert_rank_identical(ranks(small_index.topk(["w00010"], k=10, where_lang="en")), want)


def test_q15_count(small_index, small_oracle):
    assert small_index.count_hits("the") == small_oracle.count_hits("the")


def test_q16_colloc(small_index, small_oracle):
    got = {r["next_tok"]: r["n"] for r in small_index.next_token_freq("click").collect()}
    assert got == small_oracle.next_token_freq("click")


def test_head_term_spans_shards(small_index):
    """Skew rule: a head term's posting list must be split across shards."""
    seg = small_index.segments[0]
    t = seg.terms.filter(seg.terms.term_fold == "the").select("term_id").collect()
    tids = [r["term_id"] for r in t]
    n = (
        seg.postings.filter(seg.postings.term_id.isin(tids))
        .select("shard").distinct().count()
    )
    assert n == seg.meta["n_shards"]


def test_term_freqs_match(small_index, small_oracle):
    got = {r["term"]: r["cf"] for r in small_index.term_freqs().collect()}
    exp = small_oracle.term_freqs()
    assert got == exp


def test_topk_spans_phrase_vs_numpy(small_index):
    """Ranked phrase query (topk_phrase): independent numpy BM25 over the
    engine's own phrase hits must reproduce rank, doc and score."""
    import numpy as np
    from blacklab_spark import B, K1

    ix = small_index
    words = ["the", "w00000"]
    hits = ix.phrase_hits(words).toPandas()
    assert len(hits) > 0
    tf = hits.groupby("doc_id").size()
    dl = {
        r["doc_id"]: r["doc_len"]
        for r in ix.docs.select("doc_id", "doc_len").collect()
    }
    n, avgdl, df = ix.n_docs, ix.avgdl, float(len(tf))
    idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
    exp = sorted(
        (
            (
                -idf * (t / (t + K1 * (1 - B + B * dl[d] / avgdl))) * (K1 + 1),
                d,
            )
            for d, t in tf.items()
        ),
    )[:10]
    got = ix.topk_phrase(words, k=10).orderBy("rank").collect()
    assert [r["doc_id"] for r in got] == [d for _, d in exp]
    for r, (neg_s, _) in zip(got, exp):
        assert abs(r["score"] - (-neg_s)) < 1e-9


def test_topk_spans_accepts_bcql(small_index):
    """Any span producer ranks — a BCQL pattern's hits feed topk_spans."""
    from blacklab_spark import bcql

    hits = bcql.find(small_index, '"the" []')
    top = small_index.topk_spans(hits, k=5).collect()
    assert 0 < len(top) <= 5
    assert [r["rank"] for r in sorted(top, key=lambda r: r["rank"])] == list(
        range(1, len(top) + 1)
    )
    assert all(r["score"] > 0 for r in top)


def test_topk_and_conjunctive_vs_numpy(small_index, ranked_paths):
    """AND-ranked top-k: only docs containing ALL terms rank; scores equal
    an independent numpy BM25 sum with global per-term idf."""
    import numpy as np
    from blacklab_spark import B, K1

    ix = small_index
    terms = ["the", "click"]
    allowed = {r.doc_id for r in ix.and_docs(terms).collect()}

    dl = {r.doc_id: r.doc_len for r in ix.docs.select("doc_id", "doc_len").collect()}
    n, avgdl = ix.n_docs, ix.avgdl
    score = {}
    for t in terms:
        h = ix.term_hits(t).toPandas()
        tf = h.groupby("doc_id").size()
        df = float(tf.size)
        idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for d, c in tf.items():
            if d in allowed:
                score[d] = score.get(d, 0.0) + idf * (K1 + 1) * c / (
                    c + K1 * (1 - B + B * dl[d] / avgdl)
                )
    exp = sorted(((-s, d) for d, s in score.items()))[:10]
    for path in ranked_paths():
        got = ix.topk_and(terms, k=10, quantize=False).orderBy("rank").collect()
        assert 0 < len(got) <= 10, path
        assert all(r.doc_id in allowed for r in got), path
        assert [r.doc_id for r in got] == [d for _, d in exp], path
        for r, (neg_s, _) in zip(got, exp):
            assert abs(r.score - (-neg_s)) < 1e-9, path


def test_find_ranked_bcql(small_index):
    from blacklab_spark import bcql

    top = bcql.find_ranked(small_index, '"the" "w00000"', k=5).collect()
    assert 0 < len(top) <= 5
    want = small_index.topk_phrase(["the", "w00000"], k=5).collect()
    assert {(r.rank, r.doc_id) for r in top} == {(r.rank, r.doc_id) for r in want}


def test_topk_spans_fuzz_vs_numpy(small_index):
    """Derandomized property: topk_spans reproduces an independent numpy
    BM25 for ARBITRARY hit multisets (any doc mix, duplicate spans,
    single-doc corner, k larger than result set)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from blacklab_spark import B, K1

    ix = small_index
    doc_ids = [r.doc_id for r in ix.docs.select("doc_id").limit(40).collect()]
    dl = {r.doc_id: r.doc_len for r in ix.docs.select("doc_id", "doc_len").collect()}
    n, avgdl = ix.n_docs, ix.avgdl

    hit = st.tuples(
        st.sampled_from(doc_ids), st.integers(0, 30), st.integers(1, 5)
    )

    @settings(max_examples=8, deadline=None, derandomize=True)
    @given(st.lists(hit, min_size=1, max_size=60), st.integers(1, 12))
    def prop(hits, k):
        rows = [(d, s, s + ln) for d, s, ln in hits]
        hdf = ix.spark.createDataFrame(rows, "doc_id long, start int, end int")
        got = ix.topk_spans(hdf, k=k).orderBy("rank").collect()
        tf = {}
        for d, _, _ in rows:
            tf[d] = tf.get(d, 0) + 1
        df = float(len(tf))
        idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
        exp = sorted(
            (
                (-idf * (t / (t + K1 * (1 - B + B * dl[d] / avgdl))) * (K1 + 1), d)
                for d, t in tf.items()
            )
        )[:k]
        assert [r.doc_id for r in got] == [d for _, d in exp]
        for r, (neg_s, _) in zip(got, exp):
            assert abs(r.score - (-neg_s)) < 1e-9

    prop()
